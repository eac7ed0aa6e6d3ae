package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching DuckDB oracle in `oracleSql`
  * unless the operator is not SQL-expressible (then the driver records a
  * rows-only check). Column aliases match between the Spark plan and the
  * oracle SQL exactly; result row order is pinned by explicit sorts on both
  * sides.
  *
  * Scale notes (local[32] tests, 1000-executor design): dimension joins are
  * broadcast; fact-fact joins shuffle on join keys; aggregates rely on
  * partial (map-side) aggregation; AQE handles skew at runtime.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Recursively delete `path` when the JVM exits (at most one hook per
    * path). Used by queries that materialize scratch files so repeated
    * bench/verify processes don't accumulate copies in java.io.tmpdir. */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerCleanupOnExit(path: String): Unit =
    if (cleanupRegistered.add(path)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(path))
      }))
    }

  /** Freeze a small trained artifact (PQ codebooks / k-means centroids)
    * under a FIXED path the DuckDB oracle reads back with read_parquet —
    * the split-gate pattern for trained-but-deterministically-served
    * operators: k-means training stays evidence-tiered, while everything
    * downstream of the frozen frame (encode, probe, ADC scan, re-rank) is
    * deterministic arithmetic the oracle replays value-exactly.
    * Hive-partitioned by corpus row count AND content token
    * (n=<count>/h=<token>) so concurrent runs at different scale factors
    * — or over DIFFERENT corpora that happen to share a row count — never
    * select each other's frames; the oracle recomputes both keys from the
    * corpus itself (WHERE n = count(*) AND h = <same integer aggregate>,
    * see SparkEntryOracles.frozenScan). Partitions older than a day are
    * GC'd at freeze time, bounding the root across rounds without ever
    * touching a frame a concurrent same-round process could be reading.
    * Returns its INPUT frame only when that frame is stored bytes — a
    * driver-local relation or a file scan, at most renamed — so it holds
    * the values the oracle will read (parquet doubles round-trip exactly)
    * without a read-back round trip. Any other plan (an aggregate, a
    * join, a UDF) could recompute to different values than the frozen
    * file, so the read-back of the file is served instead. Not cleaned on
    * exit: the oracle runs after this JVM is gone; the frames are m·ks/C
    * rows. */
  private[graft] val frozenRoot = "/tmp/graft_frozen"

  /** (row count, content token) of an embeddings corpus in ONE aggregate
    * pass. The token is pure bounded-integer arithmetic both engines
    * compute identically (no FP accumulation-order hazard: the only
    * double op is a per-row IEEE multiply + floor, then integer sums):
    * per row, pmod(pmod(vec_id, 2^31)·2654435761 + pmod(floor(v[0]·4096),
    * 1e9) + pmod(floor(v[-1]·4096), 1e9), 1e9) — two equal-count corpora
    * collide only if the sum of these per-row hashes (ids AND
    * first-and-last-coordinate content) agrees. Sampling BOTH ends closes
    * the r12 window where a re-generated / tail-perturbed variant of the
    * same corpus shared ids and leading coordinates: a collision now needs
    * agreement on every sampled coordinate, at unchanged cost (same single
    * aggregate pass). Each floor term is pmod-clamped to [0, 1e9) BEFORE
    * the sum, so the inner Long expression is bounded by 5.7e18 + 2e9
    * regardless of coordinate magnitude — unclamped, coordinates above
    * ~4e14 overflowed the headroom left by the id term, and Spark wraps
    * silently where DuckDB BIGINT arithmetic raises, diverging gate and
    * oracle instead of failing both (r13 ADVICE). Per-row value < 1e9, so
    * the Long sum is exact below ~9.2e9 rows — far above any frozen-gate
    * corpus. DuckDB replica in SparkEntryOracles (element_at(v, -1) and
    * list_extract(v, -1) both index from the tail). */
  private[graft] def corpusSig(emb: DataFrame): (Long, Long) = {
    val v = col("embedding").cast("array<double>")
    def term(e: Column): Column =
      pmod(floor(e * lit(4096.0)).cast("long"), lit(1000000000L))
    val r = emb.select(
      count(lit(1)),
      sum(pmod(
        pmod(col("vec_id").cast("long"), lit(2147483648L)) * lit(2654435761L)
          + term(element_at(v, 1)) + term(element_at(v, -1)),
        lit(1000000000L)))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** PQ gates only make sense when the embedding dimension decomposes
    * into AnnConfig's m·subLen — and the oracle SQL is generated from the
    * same constants, so a dim change must fail HERE, loudly, before a
    * frozen frame desynchronizes gate and replay. */
  private def requirePqDims(emb: DataFrame): DataFrame = {
    import graft.operators.AnnConfig
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim == AnnConfig.numSubspaces * AnnConfig.subLen,
      s"embedding dim $dim != AnnConfig m*subLen = " +
        s"${AnnConfig.numSubspaces * AnnConfig.subLen}: gate and generated " +
        "oracle SQL would desynchronize — retune AnnConfig first")
    emb
  }

  private[graft] def freeze(df: DataFrame, gate: String, part: String,
                            n: Long, tok: Long): DataFrame = {
    gcFrozen(s"$frozenRoot/$gate/$part")
    val dir = s"$frozenRoot/$gate/$part/n=$n/h=$tok"
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    if (storedBytes(df.queryExecution.analyzed)) df
    else df.sparkSession.read.parquet(dir)
  }

  /** A plan that only reads stored values: a local relation or a file
    * scan, under pure column renames. */
  private def storedBytes(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    plan match {
      case _: LocalRelation => true
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case Project(list, child) => list.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } && storedBytes(child)
      case _ => false
    }
  }

  /** Delete frozen partitions older than a day (leaf h=<tok> dirs by
    * mtime, then emptied n=<count> dirs): bounds /tmp/graft_frozen across
    * rounds while never racing a same-run process — gates re-freeze
    * minutes before their oracle replays, so any same-round frame is
    * hours young. */
  private def gcFrozen(partRoot: String,
                       maxAgeMs: Long = 24L * 3600 * 1000): Unit = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val root = new java.io.File(partRoot)
    val nDirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("n="))
    nDirs.foreach { nDir =>
      Option(nDir.listFiles()).getOrElse(Array.empty)
        .filter(_.lastModified() < cutoff)
        .foreach {
          // h=<tok> leafs, plus stale files directly under n= (the
          // pre-token single-level layout earlier rounds wrote)
          case h if h.isDirectory =>
            Option(h.listFiles()).getOrElse(Array.empty)
              .foreach(f => f.delete(): Unit)
            h.delete(): Unit
          case f => f.delete(): Unit
        }
      if (Option(nDir.listFiles()).exists(_.isEmpty)) nDir.delete(): Unit
    }
  }

  /** events.parquet's ts column has shipped as both INT64 TIMESTAMP(NANOS)
    * (older testdata: Spark's reader rejects it unless
    * spark.sql.legacy.parquet.nanosAsLong=true makes it arrive as
    * nanos-since-epoch LongType — converted with INTEGER division: nanos
    * exceed double's 2^53 mantissa, a floating divide would corrupt
    * microseconds) and TIMESTAMP(MICROS) (current testdata: arrives as
    * TIMESTAMP_NTZ natively). Handle both by schema inspection; either way
    * downstream sees a session-TZ TimestampType column. (Public: specs
    * load events through this too, so the schema adaptation has exactly
    * one implementation.) */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * TPC-H Q3 shape: 3-way join + agg + top-k. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_shipping_priority")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- scan + filter + projection (predicate/column pushdown) ----
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01"
          && col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- TPC-H Q1: wide aggregation with computed measures ----
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= "1998-09-02")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- TPC-H Q3: join + agg + top-k (broadcast dim, shuffle fact join) ----
    "q3_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < "1997-01-01")
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > "1997-01-01")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---- TPC-H Q5 shape: 6-way join, broadcast dims ----
    "q5_local_supplier" -> ((s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- TPC-H Q6: selective filter + global agg ----
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01"
          && col("l_discount") >= 0.03 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---- TPC-H Q4 (adapted: no l_commitdate/l_receiptdate in testdata —
    //      "late" = shipped >60 days after order date): EXISTS as a
    //      left-semi join; shuffles once on orderkey ----
    "q4_order_priority" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1997-10-01")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li, col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- TPC-H Q7: bidirectional nation-pair trade volume. Nation filter
    //      is applied to the supplier/customer dims BEFORE the fact joins so
    //      the lineitem stream is pruned by the (broadcast) supplier join
    //      instead of carrying every row to the final filter ----
    "q7_volume_shipping" -> ((s, dir) => {
      val pair = Seq("NATION_13", "NATION_19")
      val supN = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
      li.join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_13" && col("cust_nation") === "NATION_19")
          || (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_13"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // ---- TPC-H Q8: national market share within a region ----
    "q8_market_share" -> ((s, dir) => {
      val amNations = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "AMERICA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("am_nk"))
      val custAm = t(s, dir, "customer")
        .join(broadcast(amNations), col("c_nationkey") === col("am_nk"))
        .select(col("c_custkey"))
      val supN = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val econParts = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .join(broadcast(econParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(custAm, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(0)) / sum(vol),
          4).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // ---- TPC-H Q10: returned-item revenue per customer, top 20 ----
    "q10_returned_items" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-10-01" && col("o_orderdate") < "1997-01-01")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"),
          col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ---- TPC-H Q12 (adapted: no l_shipmode — bucket by order priority;
    //      "late" = shipped >45 days after order date) ----
    "q12_late_lineitems" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS")
      li.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(when(late, 1)).as("late_count"),
          count(when(!late, 1)).as("ontime_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- TPC-H Q13: order-count distribution over customers (left outer
    //      join keeps zero-order customers; count(col) skips nulls) ----
    "q13_customer_distribution" -> ((s, dir) => {
      val ord = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- TPC-H Q14: promotion revenue share in one month ----
    "q14_promo_effect" -> ((s, dir) => {
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-09-01" && col("l_shipdate") < "1997-10-01")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0)
          * sum(when(col("p_type") === "PROMO", vol).otherwise(0)) / sum(vol), 4)
          .as("promo_revenue"))
    }),

    // ---- TPC-H Q15: top supplier by quarterly revenue (scalar-max
    //      subquery as a 1-row broadcast join) ----
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1997-04-01")
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("mr"))
      rev.join(broadcast(maxRev), col("total_revenue") === col("mr"))
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- TPC-H Q17 (adapted: p_container → p_type): revenue lost to
    //      small-quantity orders. The per-part avg is computed only over
    //      lineitems of the ~targeted parts (semi-filtered first), not all
    //      parts — at 100 TB the full per-part aggregate would dwarf the
    //      query ----
    "q17_small_qty_revenue" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_type") === "MEDIUM")
        .select(col("p_partkey"))
      val liP = t(s, dir, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      val thresh = liP.groupBy(col("l_partkey").as("pk"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_thresh"))
      liP.join(thresh, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("qty_thresh"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    }),

    // ---- TPC-H Q18: large-volume orders (HAVING pushed to a pre-aggregate
    //      on lineitem so only qualifying orderkeys join outward) ----
    "q18_large_volume" -> ((s, dir) => {
      val bigOrders = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      bigOrders
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- TPC-H Q19 (adapted: p_container → p_size bands): disjunctive
    //      multi-table predicate over an equi-join ----
    "q19_discounted_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
            && col("l_quantity").between(1, 11))
          || (col("p_brand") === "Brand#23" && col("p_size").between(16, 30)
            && col("l_quantity").between(10, 20))
          || (col("p_brand") === "Brand#24" && col("p_size").between(31, 50)
            && col("l_quantity").between(20, 30)))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    // ---- TPC-H Q21 (adapted: "late" = shipped >30 days after order date):
    //      sole-late-supplier detection via one semi + one anti join, both
    //      shuffling on orderkey ----
    "q21_waiting_suppliers" -> ((s, dir) => {
      val ordF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val lateCut = col("o_orderdate") + expr("INTERVAL 30 DAYS")
      val l1 = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lateCut)
      val l2 = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("l2_ok"), col("l_suppkey").as("l2_sk"))
      val l3 = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("l3_ok"), col("l_suppkey").as("l3_sk"),
          col("l_shipdate").as("l3_sd"))
      l1.join(l2, col("l2_ok") === col("l_orderkey")
          && col("l2_sk") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l3_ok") === col("l_orderkey")
          && col("l3_sk") =!= col("l_suppkey") && col("l3_sd") > lateCut, "left_anti")
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(25)
    }),

    // ---- TPC-H Q22 (adapted: no c_phone — country buckets by nationkey;
    //      "dormant" = no orders since 1999): scalar-avg broadcast + anti
    //      join ----
    "q22_global_sales" -> ((s, dir) => {
      val buckets = Seq(1, 2, 3, 4, 5, 6, 7)
      val cust = t(s, dir, "customer").filter(col("c_nationkey").isin(buckets: _*))
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("ab"))
      val active = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1999-01-01").select(col("o_custkey"))
      cust.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }),

    // ---- sort + limit (TakeOrderedAndProject) ----
    "q_sort_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    }),

    // ---- window functions: rank within partition + running sum ----
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("cum_spend", round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("cum_spend"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- distinct aggregation ----
    "q_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- rollup (grouping sets) ----
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- set operations: intersect + except over derived sets ----
    "q_setops" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val y96 = ord.filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
        .select(col("o_custkey"))
      val y97 = ord.filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1998-01-01")
        .select(col("o_custkey"))
      y96.intersect(y97).except(
        ord.filter(col("o_totalprice") > 400000).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // ---- semi/anti joins (EXISTS / NOT EXISTS) ----
    "q_semi_anti" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      val withBig = cust.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_big"))
      val without = cust.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_big"))
      withBig.join(without, Seq("c_mktsegment"), "full_outer")
        .orderBy(col("c_mktsegment"))
    }),

    // ---- scalar functions: string/date/math ----
    "q_scalar_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_size") >= 10)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_up"),
          substring(col("p_type"), 1, 6).as("type_pfx"),
          length(col("p_name")).as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          round(abs(col("p_retailprice") - 1000.0), 2).as("price_dist"),
          (col("p_size") % 7).as("size_mod"))
        .orderBy(col("p_partkey"))
    }),

    // ---- date/time functions + join on derived keys ----
    "q_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("o_year"), col("o_month"))
    }),

    // ---- tumbling event-time windows (batch form of the streaming agg) ----
    "q_events_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("ws"), col("event_type"))
    }),

    // ---- gap-based sessionization via window functions ----
    "q_events_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val gapped = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      gapped.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- built-in session_window (same code path Structured Streaming
    //      uses; watermark is a no-op in batch) ----
    "q_events_session_window" -> ((s, dir) => {
      graft.streaming.EventStreams.sessionWindows(
          events(s, dir), "30 minutes", "10 minutes")
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- JSON extraction (events.props is a JSON string column) ----
    "q_json_funcs" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), round(avg(col("k")), 6).as("avg_k"))
        .orderBy(col("event_type"))
    }),

    // ---- seqfile round-trip: lineitem → our connector → agg ----
    // Exercises the whole format path (write framing, sync splits, decode)
    // inside the correctness gate; the oracle runs on the original parquet.
    "q_seqfile_roundtrip" -> ((s, dir) => {
      // Per-SF, per-process path (overwritten on every invocation within a
      // process — a fresh createTempDirectory here leaked a 600k-row seqfile
      // copy per bench/verify run). The PID suffix keeps concurrent runs
      // (e.g. bench + verify over the same SF) from racing on
      // overwrite-while-read; a shutdown hook removes the copy on exit.
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-seq-rt-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("key"),
          col("l_extendedprice").as("value"))
        .write.format("seqfile").mode("overwrite").save(tmp)
      s.read.format("seqfile")
        .option("maxSplitBytes", (1 << 20).toString).load(tmp)
        .groupBy((col("key") % 10).as("key_mod"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_price"))
        .orderBy(col("key_mod"))
    }),

    // ---- zone-map key-range scan: write a KEY-SORTED seqfile (the writer
    //      records per-block min/max in a sidecar), read back with a key
    //      range predicate — the readers seek straight to the qualifying
    //      blocks and never decompress the rest. Oracle runs the same
    //      range on the original parquet. ----
    "q_seqfile_keyrange" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-seq-zr-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("key"),
          col("l_extendedprice").as("value"))
        .repartition(4).sortWithinPartitions("key")
        .write.format("seqfile").option("blockSize", (64 << 10).toString)
        .mode("overwrite").save(tmp)
      val hi = s.read.format("seqfile").load(tmp)
        .agg(max(col("key"))).head.getLong(0)
      s.read.format("seqfile").load(tmp)
        .filter(col("key") > hi - (hi / 10) || col("key") <= 100L)
        .groupBy((col("key") % 5).as("key_mod"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_price"))
        .orderBy(col("key_mod"))
    }),

    // ---- Bloom-sidecar point lookups: write an UNSORTED seqfile with
    //      per-block key Bloom filters (bloomKeys), probe a key IN-list —
    //      blooms skip the blocks min/max can't (unsorted ranges span the
    //      domain). Oracle runs the same probe on the original parquet. ----
    "q_seqfile_bloom" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-seq-bl-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("key"),
          col("l_extendedprice").as("value"))
        .repartition(4) // deliberately unsorted: only blooms can prune
        .write.format("seqfile").option("blockSize", (64 << 10).toString)
        .option("bloomKeys", "true")
        .mode("overwrite").save(tmp)
      s.read.format("seqfile").load(tmp)
        .filter(col("key").isin(1L, 3L, 7L, 32L, 33L, 1000000007L))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_price"))
        .orderBy(col("key"))
    }),

    // ---- small-files compaction: sink-shaped fragmented dir -> compact
    //      (crash-safe manifest swap, key-sorted output) -> key-range read
    //      that exercises the compacted files' zone maps. Oracle runs the
    //      same range on the original parquet. ----
    "q_seqfile_compact" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-seq-cp-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      t(s, dir, "orders")
        .select(col("o_orderkey").as("key"), col("o_totalprice").as("value"))
        .repartition(24)
        .write.format("seqfile").mode("overwrite").save(tmp)
      graft.api.SequenceFiles.compact(s, tmp, targetFileBytes = 8L << 20)
      s.read.format("seqfile").load(tmp)
        .filter(col("key") <= 1000L)
        .groupBy((col("key") % 3).as("key_mod"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_price"))
        .orderBy(col("key_mod"))
    }),

    // ---- hive-partitioned seqfile lake: write per-partition dirs, read
    //      with a partition filter (files pruned at planning), aggregate.
    //      Oracle runs the equivalent WHERE on the original parquet. ----
    "q_seqfile_partitioned" -> ((s, dir) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-seq-part-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(root)
      // ONE partitioned write call (dynamic hive-style routing in the
      // connector) — previously a per-partition-dir loop
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("key"), col("l_quantity").as("value"),
          col("l_returnflag").as("rf"))
        .write.format("seqfile").mode("overwrite").partitionBy("rf").save(root)
      s.read.format("seqfile").load(root)
        .filter(col("rf") === "R")
        .groupBy((col("key") % 7).as("key_mod"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_qty"))
        .orderBy(col("key_mod"))
    }),

    // ---- LLM-pipeline operator OVER the seqfile connector (r16 ask 3):
    //      the operators are gated on parquet and the connector is gated
    //      separately — this composes them. documents lands as a
    //      source-partitioned seqfile lake (key=doc_id, value=text, one
    //      dynamic-routing write), exact-dedup (fingerprint groups +
    //      min-id representative) runs OVER the lake with a partition
    //      filter (the connector prunes source dirs at planning time —
    //      spec-pinned along with key-column pruning on projection
    //      plans), and the oracle runs the SAME logic on the parquet
    //      original — value drift anywhere in write→scan→dedup would
    //      surface here. rep_id_sum certifies the representative
    //      assignment (global min per group), not just the counts. ----
    "q_seqfile_pipeline" -> ((s, dir) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-seq-pipe-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(root)
      t(s, dir, "documents")
        .select(col("doc_id").as("key"), col("text").as("value"),
          col("source"))
        .write.format("seqfile").mode("overwrite").partitionBy("source")
        .save(root)
      val lake = s.read.format("seqfile").load(root)
        .filter(col("source").isin("src1", "src7", "src13"))
      val dd = graft.operators.Dedup.exactDedup(lake, "key", "value")
      dd.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("n"), first(col("rep_id")).as("rep"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_unique"),
          (sum(col("n")) - count(lit(1))).as("n_dup_docs"),
          sum(col("rep")).as("rep_id_sum"))
        .orderBy(col("source"))
    }),

    // ---- LIKE-pattern filters ----
    "q_like_filter" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_name").like("%a%") && !col("p_type").like("%STEEL%")
          && col("p_brand").startsWith("Brand"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(avg(col("p_retailprice")), 2).as("avg_price"))
        .orderBy(col("p_brand"))
    }),

    // ---- conditional aggregation (count_if / filtered aggregates) ----
    "q_conditional_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
          round(avg(when(col("o_orderstatus") === "F", col("o_totalprice"))), 2).as("avg_f_price"),
          round(sum(when(col("o_orderdate") >= "1998-01-01", col("o_totalprice"))
            .otherwise(0)), 2).as("recent_total"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- outer join with null-side accounting ----
    "q_outer_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > "2001-06-01")
      ord.join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          count(col("l_orderkey")).as("n_li_rows"),
          countDistinct(when(col("l_orderkey").isNull, col("o_orderkey"))).as("n_unmatched"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- cube (full grouping-set lattice) ----
    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- post-aggregation filter (HAVING) ----
    "q_having" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .filter(col("revenue") > 2000000)
        .orderBy(col("l_suppkey"))
    }),

    // ---- UNPIVOT (stack generator: wide columns → (metric, value) rows) ----
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "part")
        .selectExpr("p_partkey",
          "stack(2, 'size', cast(p_size AS double), 'price', p_retailprice) AS (metric, value)")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("metric"))
    }),

    // ---- multiset set ops (EXCEPT ALL keeps duplicate cardinality) ----
    "q_setops_all" -> ((s, dir) => {
      val big = t(s, dir, "orders")
        .filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1998-01-01").select(col("o_custkey"))
      big.exceptAll(recent)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))
    }),

    // ---- explicit GROUPING SETS (non-hierarchical — neither rollup nor
    //      cube expresses {by-flag} ∪ {by-status}) ----
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---- pivot (conditional aggregation matrix) ----
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy(col("l_linestatus"))
    }),

    // ---- ordered string aggregation ----
    "q_string_agg" -> ((s, dir) => {
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_supp"),
          array_join(array_sort(collect_list(col("s_name"))), ",").as("supp_list"))
        .orderBy(col("n_name"))
    }),

    // ---- exact percentiles with interpolation ----
    "q_percentiles" -> ((s, dir) => {
      // Cardinality decides the algorithm per column (both exact and
      // bit-identical): l_quantity has ~50 distinct values, so the built-in
      // percentile()'s value→count map stays tiny and map-merging wins;
      // l_extendedprice is ~one distinct value per row, where those maps
      // are the whole column and ExactPercentiles' sort path is faster.
      val li = t(s, dir, "lineitem")
      val qty = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, array(0.5D, 0.9D))").as("pq"))
        .select(col("l_returnflag"),
          round(element_at(col("pq"), 1), 4).as("p50"),
          round(element_at(col("pq"), 2), 4).as("p90"))
      val price = graft.operators.ExactPercentiles.byGroup(
          li, "l_returnflag", "l_extendedprice", Seq(0.25))
        .select(col("l_returnflag"),
          round(element_at(col("pcts"), 1), 4).as("price_p25"))
      qty.join(price, "l_returnflag").orderBy(col("l_returnflag"))
    }),

    // ---- mergeable quantile SKETCH (KLL, deterministic compaction):
    //      the 100 TB complement to q_percentiles — fixed O(k·log n) state
    //      per group rides the partial-agg path, so a hot group never
    //      requires sorting its values. Estimates carry a RANK bound, not
    //      a value bound → no SQL oracle; Verify measures the realized
    //      rank error vs the exact column into the evidence file, and
    //      KllQuantileAggSpec asserts the bound on adversarial orders. ----
    "q_quantile_sketch" -> ((s, dir) => {
      val kll = udaf(new graft.functions.KllQuantileAgg(
        k = 800, qs = Array(0.5, 0.9, 0.99)))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          kll(col("l_extendedprice").cast("double")).as("est"))
        .select(col("l_returnflag"), col("n"),
          element_at(col("est"), 1).as("p50_est"),
          element_at(col("est"), 2).as("p90_est"),
          element_at(col("est"), 3).as("p99_est"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- array ops: per-dimension embedding statistics ----
    "q_array_positions" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), round(avg(col("v")), 6).as("avg_v"))
        .orderBy(col("pos"))
    }),

    // ---- as-of join: purchase attribution to the latest prior view/click ----
    "q_asof_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      val views = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("ts"), col("user_id"))
      graft.operators.AsOfJoin.asofBackward(purchases, views,
          "user_id", "ts", "ts", rightPrefix = "v_")
        .select(col("event_id"), col("user_id"), col("v_event_id"),
          round((unix_micros(col("ts")) - unix_micros(col("v_ts"))) / 1e6, 3).as("gap_sec"))
        .orderBy(col("event_id"))
    }),

    // ---- interval/range join: events within ±5 minutes of each purchase ----
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("t", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), (col("t") - 300000000L).as("ws"),
          (col("t") + 300000000L).as("we"))
      val points = ev.select(col("event_id").as("eid"), col("t").as("pt"))
        .withColumn("pe", col("pt"))
      graft.operators.RangeJoin.overlapJoin(purchases, points,
          "event_id", "ws", "we", "eid", "pt", "pe",
          binWidthMicros = 300000000L)
        .groupBy(col("l_id").as("event_id"))
        .agg(count(lit(1)).as("n_nearby"))
        .orderBy(col("event_id"))
    }),

    // ================= LLM-pipeline operators =================

    // ---- exact dedup via 64-bit content fingerprint ----
    // ---- exact dedup with a quality policy: keep the LONGEST copy of
    //      each duplicate group (ties -> min id), the policy a training
    //      pipeline wants over blind min-id. ----
    "q_dedup_keepbest" -> ((s, dir) => {
      graft.operators.Dedup.exactDedupKeepBest(
          t(s, dir, "documents"), "doc_id", "text", octet_length(col("text")))
        .filter(col("is_rep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_reps"),
          sum(col("doc_id")).as("id_sum"),
          sum(octet_length(col("text")).cast("long")).as("len_sum"))
        .orderBy(col("source"))
    }),

    "q_dedup_exact" -> ((s, dir) => {
      // n_dup_docs is WITHIN-source (n_docs - distinct fingerprints): a
      // duplicate pair spanning two sources counts in neither, matching the
      // oracle's per-source distinct count. (The global-representative view
      // lives in exactDedup's is_rep/rep_id and q_corpus_clean.)
      graft.operators.Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"))
        .orderBy(col("source"))
    }),

    // ---- exact word-3-gram Jaccard near-dup pairs ----
    "q_dedup_ngram" -> ((s, dir) => {
      graft.operators.Dedup.ngramJaccardPairs(
          t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- prefix-filtered exact Jaccard (AllPairs/PPJoin; same oracle) ----
    "q_dedup_ngram_prefix" -> ((s, dir) => {
      graft.operators.Dedup.ngramJaccardPairsPrefix(
          t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- MinHash+LSH near-dup pairs (exact-verified; same oracle as above) ----
    "q_dedup_minhash" -> ((s, dir) => {
      graft.operators.Dedup.minHashLshPairs(
          t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- STREAMING near-dup dedup: the corpus arrives as 4 micro-batches
    //      (doc_id mod 4), each deduped against the standing MinHash band
    //      index of batches 0..N-1 then appended to it — the online crawl
    //      ingestion loop. Band signatures are pure functions of text, so
    //      the union of per-batch pair outputs equals one full-corpus
    //      minHashLshPairs run EXACTLY, and the plain batch-mode Jaccard
    //      oracle certifies the streaming pipeline value-exact (the same
    //      kernel runs under a real foreachBatch query in
    //      StreamingNearDedupSpec, asserted stream == batch). ----
    "q_dedup_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-stream-dedup-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(base)
      // fresh ingestion run per invocation (bench reps reuse the process)
      locally {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(base))
      }
      val nBatches = 4
      (0L until nBatches.toLong).foreach { i =>
        val b = docs.filter(pmod(col("doc_id"), lit(nBatches)) === i)
        graft.streaming.StreamingNearDedup.processBatch(
            b, i, "doc_id", "text", n = 3, threshold = 0.8,
            indexDir = base + "/index")
          .write.mode("overwrite").parquet(base + s"/pairs/batch=$i")
      }
      s.read.option("basePath", base + "/pairs").parquet(base + "/pairs")
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- incremental exact dedup: new batch (odd ids) vs the standing
    //      corpus's fingerprint index (even ids) — the ingestion shape;
    //      fingerprint-join equals the oracle's normalized-text join
    //      modulo 2^-64 collisions. ----
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusFps = docs.filter(col("doc_id") % 2 === 0)
        .select(graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"))
      // the synthetic corpus has no cross-parity duplicates, so inject
      // them deterministically: every 7th batch doc takes the text of its
      // even-id predecessor (a corpus member) — exercising the corpus-hit
      // path on real data, mirrored in the oracle
      val donor = docs.select(col("doc_id").as("d_id"), col("text").as("d_text"))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .join(donor, col("doc_id") - 1 === col("d_id"), "left")
        .withColumn("text",
          when(col("doc_id") % 7 === 1 && col("d_text").isNotNull, col("d_text"))
            .otherwise(col("text")))
        .select(col("doc_id"), col("text"))
      graft.operators.Dedup.exactDedupIncremental(
          batch, "doc_id", "text", corpusFps, "fp")
        .select(col("doc_id"), col("in_corpus").cast("int").as("in_corpus"),
          col("is_new").cast("int").as("is_new"))
        .orderBy(col("doc_id"))
    }),

    // ---- benchmark decontamination: corpus docs sharing >= 2 distinct
    //      word-trigrams with any single benchmark doc (the n-gram
    //      collision rule used to keep eval sets out of training data).
    //      Benchmark = the deterministic doc_id % 97 == 0 slice; corpus =
    //      the rest. Hash-join equals the oracle's string join modulo
    //      2^-64 collisions (same equivalence as the Jaccard gates). ----
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.contaminationReport(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", "doc_id", "text", n = 3, minOverlap = 2)
        .orderBy(col("doc_id"))
    }),

    // ---- line-level boilerplate removal (CCNet-style): the corpus has no
    //      newlines, so both sides deterministically inject them first —
    //      two boilerplate lines (in ~1/3 and ~1/5 of docs, WELL above the
    //      doc-frequency cutoff) plus organic line breaks at ' table '.
    //      The operator must drop exactly the over-frequent lines and
    //      reassemble the rest in order; clean_len certifies the rewrite. ----
    "q_line_dedup" -> ((s, dir) => {
      val injected = concat(
        when(col("doc_id") % 3 === 0, lit("Subscribe to our newsletter\n"))
          .otherwise(lit("")),
        regexp_replace(col("text"), " table ", "\n"),
        when(col("doc_id") % 5 === 0, lit("\nAll rights reserved"))
          .otherwise(lit("")))
      graft.operators.Dedup.removeBoilerplateLines(
          t(s, dir, "documents").withColumn("text", injected),
          "doc_id", "text", maxDocFreq = 10)
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          length(col("text")).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    // ---- incremental MinHash near-dup: batch (odd ids) vs the standing
    //      corpus's precomputed band + shingle-set indexes (even ids) —
    //      corpus text never read; exact-verified, so it matches the
    //      cross-set string-shingle Jaccard oracle pair for pair. ----
    "q_dedup_incremental_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val bands = graft.operators.Dedup.minHashBandIndex(corpus, "doc_id", "text", n = 3)
      val sets = graft.operators.Dedup.shingleHashSets(corpus, "doc_id", "text", n = 3)
      graft.operators.Dedup.minHashLshPairsIncremental(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          bands, sets, n = 3, threshold = 0.8)
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // ---- SimHash near-dup pairs, value-exact-oracled ----
    // maxHamming=7 over 4 x 16-bit chunks + one-bit-flip probe variants
    // (the r12 contract lift from Manku et al.'s <= 3): the wide 65536-
    // bucket chunk keys are kept — the alternative 8-bit chunks collapsed
    // skewed signatures into mega-buckets (top bucket held 38% of all
    // docs at sf0.1 → 6.5M candidate pairs), while flip-variant probing
    // multiplies PROBE rows 17x but keeps candidates bucket-bounded.
    "q_dedup_simhash" -> ((s, dir) => {
      graft.operators.Dedup.simhashPairs(
          t(s, dir, "documents"), "doc_id", "text", maxHamming = 7, numChunks = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup clustering: pairs -> connected components -> classes ----
    // Pair generator is the prefix-filtered Jaccard join (the scale path:
    // candidate space bounded by rare-shingle df, not Σdf²); components()
    // materializes the pairs once before its symmetric-closure union.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = graft.operators.Dedup.ngramJaccardPairsPrefix(
        t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8)
      graft.operators.ConnectedComponents.components(pairs, "id_a", "id_b")
        .groupBy(col("comp").as("component"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list(col("id"))),
            x => x.cast("string")), ",").as("members"))
        .orderBy(col("component"))
    }),

    // ---- near-dup cluster representatives with a QUALITY policy: every
    //      doc annotated with its component, the longest member as rep
    //      (ties -> min id), cluster size, is_rep — i.e. exactDedupKeepBest
    //      lifted from exact-duplicate groups to near-dup clusters. ----
    "q_dedup_cluster_keepbest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.ngramJaccardPairsPrefix(
        docs, "doc_id", "text", n = 3, threshold = 0.8)
      graft.operators.ConnectedComponents.representatives(
          docs, pairs, "doc_id", "id_a", "id_b", length(col("text")))
        .select(col("doc_id"), col("component"), col("cluster_size"),
          col("rep_id"), col("is_rep").cast("int").as("is_rep"))
        .orderBy(col("doc_id"))
    }),

    // ---- embedding-cosine near-dup pairs ----
    "q_dedup_embedding" -> ((s, dir) => {
      graft.operators.Dedup.cosineNeardupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- embedding near-dup via LSH buckets + exact verify (the scale
    //      path: equi-joins only, no BroadcastNestedLoopJoin; P(miss per
    //      pair) ~ 1.5e-9 so it shares the exact all-pairs oracle) ----
    "q_dedup_embedding_lsh" -> ((s, dir) => {
      graft.operators.Dedup.cosineNeardupPairsBucketed(
          t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- embedding LSH at the PRODUCTION operating point (threshold 0.9,
    //      bitsPerBand ~ log2 N): the PRUNING path. The raw corpus has no
    //      pairs above ~0.65, so near-dups are planted deterministically —
    //      every 10th vector gains a replica with +0.1 on its first
    //      component (unit vectors -> cosine ~0.995), mirrored in the
    //      oracle. At that margin the per-pair LSH miss probability is
    //      ~1e-33 (p = 1-acos(0.995)/pi per hyperplane, (1-p^11)^64), so
    //      the pruned output provably equals the exact all-pairs oracle while
    //      unrelated (near-orthogonal) pairs collide with probability
    //      ~64/2^11 — the gate certifies the collapse-to-near-linear
    //      claim, not just the all-pairs identity. ----
    "q_dedup_embedding_lsh_prod" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val replicas = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.1)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      graft.operators.Dedup.cosineNeardupPairsBucketed(
          e.unionAll(replicas), "vec_id", "embedding",
          threshold = 0.9, bitsPerBand = 11, numBands = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- SemDeDup-style semantic near-dup: deterministic-centroid
    //      clustering + exact within-cluster cosine pairs (clustering is
    //      integer arithmetic → full SQL oracle) ----
    "q_dedup_semantic" -> ((s, dir) => {
      graft.operators.Dedup.semanticNeardupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, numClusters = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- ANN: brute-force cosine top-k baseline ----
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- hard-negative mining for contrastive training: nearest corpus
    //      vectors per anchor EXCLUDING presumed positives (cosine >=
    //      0.35); exact form of the PQ-served production shape ----
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.hardNegatives(
          emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 10, posThreshold = 0.35)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ANN: multi-probe LSH — per band the query probes its exact
    //      bucket plus the 2^flipBits lowest-margin bit flips (r12 lift:
    //      recall at the same <=25% scan budget; fully value-exact-
    //      oracled, margins and probe selection included) ----
    "q_ann_lsh" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.lshTopK(
          emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ANN over a PERSISTED LSH index: build → save → load → search,
    //      the standing-corpus serving shape (corpus hashed once; queries
    //      pay their own probe kernel + 16-byte band joins + candidate-id
    //      vector lookups). Signatures are pure functions of the vector,
    //      so the index-served result EQUALS lshTopK's from-scratch
    //      result — certified by the SAME multi-probe DuckDB oracle. ----
    "q_ann_lsh_index" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-lsh-idx-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.buildLshIndex(
        emb, "vec_id", "embedding",
        bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands).save(tmp)
      val loaded = graft.operators.LshIndex.load(s, tmp)
      graft.operators.SimilaritySearch.searchLshIndex(
          loaded, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- FILTERED serve on the LSH family: the allowed-id set (English
    //      documents via the doc_id↔vec_id join) semi-joins the BUCKET
    //      rows before the probe join, so disallowed vectors never
    //      become candidates — with q_ann_pq_filtered this closes the
    //      family × filtered matrix (IVF-PQ/IVF-SQ8 via
    //      searchIvfPqIndex, PQ/SQ8 via searchPqIndex, LSH here).
    //      Value-exact under the same from-scratch multi-probe replay
    //      with the metadata subquery on its one corpus CTE — signatures
    //      are pure per-vector functions, so bucket rows of allowed ids
    //      are identical whether the build hashed the full corpus
    //      (engine) or just the slice (oracle). ----
    "q_ann_lsh_filtered" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-lsh-filt-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = t(s, dir, "embeddings")
      val allowed = t(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      graft.operators.SimilaritySearch.buildLshIndex(
        emb, "vec_id", "embedding",
        bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands).save(tmp)
      val loaded = graft.operators.LshIndex.load(s, tmp)
      val queries = emb.join(allowed, Seq("vec_id"), "left_semi")
        .filter(col("vec_id") < AnnConfig.maxQueries)
      graft.operators.SimilaritySearch.searchLshIndex(
          loaded, queries,
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits,
          allowed = Some(allowed))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ANN incremental ingest over a persisted LSH index: the
    //      standing index is built on the corpus MINUS the newest batch
    //      (even vec_ids), the batch (odd vec_ids) is APPENDED as its own
    //      partition — only the batch is hashed, nothing standing is
    //      touched — and the served result is value-exact EQUAL to the
    //      from-scratch lshTopK over the full corpus, certified by the
    //      SAME multi-probe DuckDB oracle (band signatures are pure
    //      per-vector functions, so ingest order cannot change them). ----
    "q_ann_lsh_index_incremental" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-lsh-inc-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = t(s, dir, "embeddings")
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      graft.operators.SimilaritySearch.buildLshIndex(
        standing, "vec_id", "embedding",
        bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands).save(tmp)
      graft.operators.LshIndex.append(tmp, batch, "vec_id", "embedding",
        bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
        batchId = 1L)
      val loaded = graft.operators.LshIndex.load(s, tmp)
      graft.operators.SimilaritySearch.searchLshIndex(
          loaded, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ANN tombstone-delete over a persisted LSH index: the opt-out /
    //      takedown path a long-lived training-data index needs. Build on
    //      the FULL corpus, tombstone the odd vec_ids >= maxQueries
    //      (nothing rewritten — the id list is its own deletes/batch=1
    //      partition; load() anti-joins it out of both halves), serve —
    //      and the result is value-exact EQUAL to a from-scratch build
    //      over the SURVIVING corpus, certified by the same multi-probe
    //      replay with the deletion predicate applied to its one corpus
    //      CTE (annLshSqlOver). ----
    "q_ann_lsh_index_delete" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-lsh-del-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.buildLshIndex(
        emb, "vec_id", "embedding",
        bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands).save(tmp)
      graft.operators.LshIndex.delete(tmp,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      val loaded = graft.operators.LshIndex.load(s, tmp)
      graft.operators.SimilaritySearch.searchLshIndex(
          loaded, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- LSH PHYSICAL PURGE: tombstone the odd tail, then purge (load
    //      → save to a fresh root): both halves rewritten at their
    //      surviving rows, the deletes dir gone, and the purged index
    //      serves EXACTLY what the masked index serves — certified by
    //      the same from-scratch multi-probe replay with the deletion
    //      predicate on its corpus CTE (signatures are pure per-vector
    //      functions, so a physical rewrite cannot change them). Closes
    //      the family × purge gate matrix for LSH (r16 ask 1). ----
    "q_ann_lsh_index_purge" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-lsh-purge-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.buildLshIndex(
        emb, "vec_id", "embedding",
        bitsPerBand = AnnConfig.lshBits,
        numBands = AnnConfig.lshBands).save(s"$tmp/orig")
      graft.operators.LshIndex.delete(s"$tmp/orig",
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      graft.operators.LshIndex.purge(s, s"$tmp/orig", s"$tmp/purged")
      graft.operators.SimilaritySearch.searchLshIndex(
          graft.operators.LshIndex.load(s, s"$tmp/purged"),
          emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ANN: IVF-flat (approximate → rows-only; recall tested) ----
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.ivfTopK(
          emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF with k-means-trained centroids — the production variant.
    //      Split gate: the trained centroids are FROZEN to parquet the
    //      oracle reads back, so list assignment, probe selection, and
    //      scoring are all value-exact-oracled; only the k-means training
    //      itself stays evidence-tiered (recall vs brute force in the
    //      evidence file + SimilaritySearchSpec). Operating point lifted
    //      from the old teaching tier (C=16, nProbe=4, recall 0.615) to
    //      C=128, nProbe=32 — the same 25% scan fraction, but finer lists
    //      strictly improve recall at a fixed fraction (the measured
    //      C-ladder in buildIvfPqIndex's doc). ----
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val emb = t(s, dir, "embeddings")
      val (n, tok) = corpusSig(emb)
      val cents = freeze(
        graft.operators.SimilaritySearch.ivfKMeansCentroidsDf(
          emb, "vec_id", "embedding", numCentroids = AnnConfig.kmeansLists),
        "q_ann_ivf_kmeans", "centroids", n, tok)
      graft.operators.SimilaritySearch.ivfTopKKMeans(
          emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          nProbe = AnnConfig.kmeansProbes, centroids = Some(cents))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- deterministic per-group exemplars: 3 stable audit examples per
    //      source, picked by content hash (rerun- and layout-stable) ----
    "q_group_exemplars" -> ((s, dir) => {
      graft.operators.Sampling.exemplars(
          t(s, dir, "documents"), "source", "doc_id", k = 3)
        .select(col("source"), col("doc_id"), col("exemplar_rank"))
        .orderBy(col("source"), col("exemplar_rank"))
    }),

    // ---- bigram-LM surprisal: mean -log2 P(w_i | w_{i-1}) with a <s>
    //      begin context; self-trained so no smoothing, exactly oracled ----
    "q_bigram_surprisal" -> ((s, dir) => {
      graft.operators.UnigramLM.bigramSurprisal(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- z-order clustering cells: quantile-bucket (16/col) + Morton
    //      interleave over (l_partkey, l_suppkey) — per-cell extents
    //      certify bucketing, cutoffs, and bit interleave; ZOrderSpec
    //      proves the layout's 2-D pruning win ----
    "q_zorder_cells" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val zcols = Seq("l_partkey", "l_suppkey")
      val cuts = graft.operators.ZOrder.quantileCutoffs(li, zcols, 16)
      li.withColumn("zv", graft.operators.ZOrder.zvalue(zcols, cuts))
        .groupBy(col("zv"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
        .orderBy(col("zv"))
    }),

    // ---- corpus cartography: cluster the embedding corpus around the
    //      deterministic ivfTopK centroid pick and profile each cluster
    //      (size, majority label, purity, coherence) — fully oracled
    //      because the centroid choice is integer arithmetic ----
    "q_cluster_purity" -> ((s, dir) => {
      graft.operators.SimilaritySearch.clusterProfile(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label",
          numCentroids = 16)
        .orderBy(col("cent_id"))
    }),

    // ---- temperature-scaled source mixing weights (alpha=0.3): the
    //      multilingual/multi-source sampling recipe — small sources get
    //      upweighted, eff_epochs shows the implied repetition at a
    //      budget of one corpus-total of tokens ----
    "q_mixture_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"),
        size(graft.functions.TextAnalysis.tokens(col("text")))
          .cast("long").as("toks"))
      graft.operators.Sampling.temperatureWeights(
          docs, "source", "toks", alpha = 0.3)
        .orderBy(col("source"))
    }),

    // ---- greedy token-budget selection: keep the highest-quality docs
    //      until 50k tokens — the "select best N tokens" curation step.
    //      Scale shape: bucket-prefix + in-bucket-prefix windows, never a
    //      global single-partition running sum. ----
    "q_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"),
        size(graft.functions.TextAnalysis.tokens(col("text")))
          .cast("long").as("toks"))
      graft.operators.Sampling.tokenBudgetSelect(
          docs, "doc_id", "quality", "toks", budget = 50000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sel"),
          sum(col("toks")).as("tokens_sel"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .orderBy(col("source"))
    }),

    // ---- CCNet perplexity bucketing: per-language head/middle/tail split
    //      at the 30th/70th surprisal percentiles (Wenzek et al. 2020).
    //      Exact interpolated cutoffs -> fully oracled; KLL sketch is the
    //      documented escape hatch for degenerate group concentration. ----
    "q_ccnet_buckets" -> ((s, dir) => {
      graft.operators.UnigramLM.perplexityBuckets(
          t(s, dir, "documents"), "doc_id", "text", "lang")
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("surprisal")), 4).as("avg_surprisal"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // ---- BPE vocabulary induction: 16 merges over the corpus (corpus
    //      touched once; rounds run over the cached distinct-word table).
    //      Value-exact oracle: a recursive CTE replays training round by
    //      round (SparkEntryOracles.bpeMergesSql); BpeSpec additionally
    //      pins exact equality with a single-threaded reference. ----
    "q_bpe_merges" -> ((s, dir) => {
      graft.operators.Bpe.train(t(s, dir, "documents"), "text", numMerges = 16)
        .orderBy(col("rank"))
    }),

    // ---- BPE at a REALISTIC vocabulary tier: 256 merges, same trainer,
    //      same recursive-CTE oracle (the replay is depth-agnostic). The
    //      per-round cost is ONE bounded net-delta job over the distinct-
    //      word table; the driver pair table's high-water mark lands in
    //      SCALE.md's merges-vs-time curve as the maxDriverPairs headroom
    //      gauge for the 32k-merge design claim. ----
    "q_bpe_merges_256" -> ((s, dir) => {
      graft.operators.Bpe.train(t(s, dir, "documents"), "text",
          numMerges = 256)
        .orderBy(col("rank"))
    }),

    // ---- BPE corpus tokenization (the APPLY side of q_bpe_merges):
    //      train a small vocab, segment every document row-locally with
    //      the rank-based encoder. Value-exact oracle: the training
    //      recursion's final state is the encoded word table
    //      (SparkEntryOracles.bpeEncodeSql); Verify also emits
    //      exact-agreement-vs-reference evidence and BpeSpec fuzz-pins
    //      the encoder against segmentWord. ----
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.train(docs, "text", numMerges = 16)
      graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          // full-sequence witness:  can't occur inside a subword
          // (tokens are whitespace-split before merging)
          md5(concat_ws("\u001f", col("tokens"))).as("tokens_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- BPE round trip: train → encode → decode must reproduce the
    //      normalized text EXACTLY — certifies the whole tokenizer chain
    //      against a plain SQL oracle (the individual train/encode gates
    //      are rows-only; this one is value-exact). ----
    "q_bpe_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.train(docs, "text", numMerges = 16)
      graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          graft.operators.Bpe.decodeTokens(col("tokens")).as("text_rt"))
        .orderBy(col("doc_id"))
    }),

    // ---- byte-level BPE (the GPT-2-family formulation): symbols are the
    //      UTF-8 BYTES of each space-prefixed word (no </w> marker, <=256
    //      base alphabet, every string encodable — byte fallback). Same
    //      recursive-CTE oracle replay as the word tier, over the
    //      hex-pair alphabet. ----
    "q_bpe_merges_bytes" -> ((s, dir) => {
      graft.operators.Bpe.trainBytes(t(s, dir, "documents"), "text",
          numMerges = 16)
        .orderBy(col("rank"))
    }),

    "q_bpe_encode_bytes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainBytes(docs, "text", numMerges = 16)
      graft.operators.Bpe.encodeBytes(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          // full-sequence witness: \u001f is outside the hex alphabet,
          // so token boundaries hash unambiguously
          md5(concat_ws("\u001f", col("tokens"))).as("tokens_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- byte-level round trip: unhex(concat(tokens)) must reproduce
    //      the normalized text exactly — certifies that byte merges
    //      splitting multi-byte UTF-8 characters still reassemble. ----
    "q_bpe_roundtrip_bytes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainBytes(docs, "text", numMerges = 16)
      graft.operators.Bpe.encodeBytes(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          graft.operators.Bpe.decodeBytesTokens(col("tokens")).as("text_rt"))
        .orderBy(col("doc_id"))
    }),

    // ---- asymmetric containment pairs: fragment duplication Jaccard
    //      misses (short doc quoted inside a long one) ----
    "q_dedup_containment" -> ((s, dir) => {
      graft.operators.Dedup.ngramContainmentPairs(
          t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- exact repeated-substring pairs: 6-token exact runs shared
    //      between documents (df-capped at 64), the Lee-et-al criterion ----
    "q_dedup_substring" -> ((s, dir) => {
      graft.operators.Dedup.sharedWindowPairs(
          t(s, dir, "documents"), "doc_id", "text", w = 6, maxDf = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- duplicated-span REMOVAL (Lee et al. ExactSubstr surgery):
    //      cut every token covered by a 6-token window shared by >= 2
    //      docs; value-exact oracle re-derives the cleaned token stream ----
    "q_dedup_span_removal" -> ((s, dir) => {
      graft.operators.Dedup.removeSharedSpans(
          t(s, dir, "documents"), "doc_id", "text", w = 6)
        .filter(col("n_removed") > 0)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- cross-source overlap matrix: distinct 3-gram sharing + Jaccard
    //      per source pair — the pre-mixing diligence pass ----
    "q_source_overlap" -> ((s, dir) => {
      graft.operators.Decontamination.overlapMatrix(
          t(s, dir, "documents"), "source", "text", n = 3)
        .orderBy(col("source_a"), col("source_b"))
    }),

    // ---- ANN, product-quantization: 8-byte PQ codes + ADC scan + exact
    //      re-rank. Split gate: the k-means codebooks are FROZEN to
    //      parquet the oracle reads back, so the deterministic half —
    //      per-subspace argmin encode, ADC LUT scoring, candidate top-R,
    //      exact re-rank — is value-exact-oracled term-for-term in DuckDB;
    //      only the training stays evidence-tiered (recall@10 vs
    //      q_ann_bruteforce in the evidence file). ----
    "q_ann_pq" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val (n, tok) = corpusSig(emb)
      val cb = freeze(
        graft.operators.SimilaritySearch.pqCodebooksDf(
          emb, "vec_id", "embedding",
          numSubspaces = AnnConfig.numSubspaces,
          codebookSize = AnnConfig.codebookSize),
        "q_ann_pq", "codebooks", n, tok)
      graft.operators.SimilaritySearch.pqTopK(
          emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          numSubspaces = AnnConfig.numSubspaces,
          codebookSize = AnnConfig.codebookSize,
          rerankFactor = AnnConfig.rerankFactor,
          codebooks = Some(cb))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-PQ: coarse lists bound WHICH codes each query scores
    //      (~nProbe/C of the corpus), PQ bounds the BYTES per code —
    //      the billion-vector serving layout, at the committed auto
    //      operating point (auto-C = 8*sqrt(N) lists, auto-nProbe = C/4 ->
    //      25% scan). Approximate -> no_oracle; recall@10 vs brute force
    //      plus the (num_lists, n_probe, scan_fraction) triple land in
    //      the evidence file. Split gate: centroids + codebooks FROZEN to
    //      parquet the oracle replays (assignment, probes, encode, ADC,
    //      re-rank all deterministic) -> value-exact; training stays
    //      evidence-tiered. ----
    "q_ann_ivfpq" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val (n, tok) = corpusSig(emb)
      val built = graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize)
      val idx = graft.operators.IvfPqIndex(
        freeze(built.centroids, "q_ann_ivfpq", "centroids", n, tok),
        freeze(built.codebooks, "q_ann_ivfpq", "codebooks", n, tok),
        built.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ANN over a PERSISTED PQ index: build -> save -> load -> search,
    //      the standing-corpus serving shape (corpus touched only to
    //      re-rank candidates). Same training as q_ann_pq, so recall
    //      evidence matches; spec pins searchPqIndex == pqTopK exactly. ----
    "q_ann_pq_index" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-pq-idx-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(tmp)
      val loaded = graft.operators.PqIndex.load(s, tmp)
      // split gate: freeze the (re-loaded) codebooks for the oracle's
      // replay — same training as q_ann_pq, its own frozen path
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.PqIndex(
        freeze(loaded.codebooks, "q_ann_pq_index", "codebooks", n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- FILTERED serve on the FLAT PQ family (q_ann_ivfpq_filtered's
    //      shape without coarse lists — the serve path SQ8 indexes share
    //      verbatim, so this gate closes the family × filtered matrix
    //      for every ADC-served index): allowed = the English documents
    //      via the doc_id↔vec_id join, semi-joined onto the codes
    //      BEFORE the ADC scan; queries restricted to the same slice.
    //      Value-exact under the flat frozen-codebook replay with the
    //      metadata subquery on its corpus CTE. ----
    "q_ann_pq_filtered" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-pq-filt-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val allowed = t(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      graft.operators.SimilaritySearch.buildPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(tmp)
      val loaded = graft.operators.PqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.PqIndex(
        freeze(loaded.codebooks, "q_ann_pq_filtered", "codebooks", n, tok),
        loaded.codes)
      val queries = emb.join(allowed, Seq("vec_id"), "left_semi")
        .filter(col("vec_id") < AnnConfig.maxQueries)
      graft.operators.SimilaritySearch.searchPqIndex(
          idx, emb, queries,
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor,
          allowed = Some(allowed))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- PQ tombstone delete: the opt-out/takedown path for the
    //      compressed standing index (FAISS remove_ids semantics — drop
    //      the per-vector codes, keep the trained quantizer). Build on
    //      the full corpus, tombstone the odd vec_ids >= maxQueries
    //      (PqIndex.load anti-joins them out of the codes table), serve
    //      — value-exact against the same frozen-codebook ADC replay
    //      with the deletion predicate on its one corpus CTE. ----
    "q_ann_pq_index_delete" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-pq-del-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(tmp)
      graft.operators.PqIndex.delete(tmp,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      val loaded = graft.operators.PqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.PqIndex(
        freeze(loaded.codebooks, "q_ann_pq_index_delete", "codebooks", n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- PQ PHYSICAL PURGE: the byte-reclaim step deletion defers —
    //      tombstone the odd tail, then PURGE (load → save to a fresh
    //      root): the surviving codes are rewritten physically, the
    //      deletes dir is gone, the quantizer copies untouched, and the
    //      purged index serves EXACTLY what the masked index serves —
    //      certified by the same frozen-codebook replay with the
    //      deletion predicate on its corpus CTE. (Footprint delta —
    //      bytes actually reclaimed — is measured at scale in SCALE.md;
    //      spec additionally pins purged == masked serve and the
    //      absence of any tombstone state in the fresh root.) ----
    "q_ann_pq_index_purge" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-pq-purge-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(s"$tmp/orig")
      graft.operators.PqIndex.delete(s"$tmp/orig",
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      graft.operators.PqIndex.purge(s, s"$tmp/orig", s"$tmp/purged")
      val loaded = graft.operators.PqIndex.load(s, s"$tmp/purged")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.PqIndex(
        freeze(loaded.codebooks, "q_ann_pq_index_purge", "codebooks", n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- PQ incremental ingest: the standing compressed index is built
    //      (and its quantizer trained) on the corpus MINUS the newest
    //      batch (even vec_ids); the batch (odd vec_ids) is APPENDED as
    //      its own codes/batch=1 partition — encoded against the FROZEN
    //      codebooks, nothing standing re-encoded — and the served result
    //      is value-exact EQUAL to a from-scratch encode of the full
    //      corpus under those codebooks, certified by the same ADC replay
    //      (codes are pure per-vector functions of the quantizer, so
    //      ingest order cannot change them). ----
    "q_ann_pq_index_incremental" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-pq-inc-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      graft.operators.SimilaritySearch.buildPqIndex(
        standing, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(tmp)
      graft.operators.PqIndex.append(s, tmp, batch, "vec_id", "embedding",
        batchId = 1L)
      val loaded = graft.operators.PqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.PqIndex(
        freeze(loaded.codebooks, "q_ann_pq_index_incremental", "codebooks",
          n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ANN over a PERSISTED SCALAR-QUANTIZED (SQ8) index: one linear
    //      byte quantizer per dimension (FAISS-style; endpoints at the
    //      exact range bounds, not QT_8bit's half-step-offset grid —
    //      see sqCodebooksDf) — dim bytes/vector, the recall-vs-compression middle
    //      ground between PQ (m bytes) and raw. The codebook frame is PQ
    //      with dim one-element subspaces, so build→save→load→serve
    //      reuses the whole PqIndex lifecycle; training is a
    //      deterministic per-dim min/max aggregate, so the oracle
    //      re-derives the QUANTIZER ITSELF from scratch — the only
    //      quantized family with NO frozen frame in its gate. ----
    "q_ann_sq8_index" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-sq8-idx-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildSqIndex(
        emb, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(tmp)
      val loaded = graft.operators.PqIndex.load(s, tmp)
      graft.operators.SimilaritySearch.searchPqIndex(
          loaded, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- SQ8 tombstone delete: FAISS remove_ids semantics on the scalar
    //      index — codes masked at load, the min/max quantizer untouched;
    //      value-exact under the same from-scratch replay with the
    //      deletion predicate on its serving corpus CTE (quantizer stats
    //      stay those of the full build corpus). ----
    "q_ann_sq8_index_delete" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-sq8-del-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      import graft.operators.AnnConfig
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildSqIndex(
        emb, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(tmp)
      graft.operators.PqIndex.delete(tmp,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      val loaded = graft.operators.PqIndex.load(s, tmp)
      graft.operators.SimilaritySearch.searchPqIndex(
          loaded, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- SQ8 incremental ingest: the standing index (and its min/max
    //      ranges) built on the evens; the odd batch APPENDED as its own
    //      codes/batch=1 partition, encoded against the FROZEN ranges
    //      (out-of-range values clamp via argmin — FAISS semantics).
    //      Served result == from-scratch encode of the full corpus under
    //      those ranges; the oracle re-derives the ranges from the
    //      STANDING (even-id) corpus and replays serve over everything.
    "q_ann_sq8_index_incremental" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-sq8-inc-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      graft.operators.SimilaritySearch.buildSqIndex(
        standing, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(tmp)
      graft.operators.PqIndex.append(s, tmp, batch, "vec_id", "embedding",
        batchId = 1L)
      val loaded = graft.operators.PqIndex.load(s, tmp)
      graft.operators.SimilaritySearch.searchPqIndex(
          loaded, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- STREAMING index ingest (flat SQ8): completes the family ×
    //      stream matrix (r16 ask 1) — the per-dim min/max ranges train
    //      on the standing evens; the odd stream's micro-batches encode
    //      against the FROZEN ranges via the shared PqIndex.ingestStream
    //      (SQ8's codebook frame IS a PqIndex with dim one-element
    //      subspaces, so the whole streaming lifecycle is inherited).
    //      Value-exact under the same replay as the incremental gate:
    //      ranges re-derived from the STANDING corpus in SQL — the
    //      strongest oracle of the five families, NO frozen frame. ----
    "q_ann_sq8_index_stream" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-sq8-stream-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .repartition(2).write.parquet(s"$tmp/src")
      graft.operators.SimilaritySearch.buildSqIndex(
        standing, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(s"$tmp/index")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      graft.operators.PqIndex.ingestStream(s"$tmp/index", stream,
        "vec_id", "embedding", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
      val loaded = graft.operators.PqIndex.load(s, s"$tmp/index")
      graft.operators.SimilaritySearch.searchPqIndex(
          loaded, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- SQ8 PHYSICAL PURGE: tombstone the odd tail, purge (load →
    //      save to a fresh root), serve — surviving codes rewritten, the
    //      deletes dir gone, the min/max quantizer copied untouched, and
    //      the purged serve EXACTLY equals the masked serve, certified
    //      by the same from-scratch replay (quantizer re-derived in SQL
    //      from the FULL build corpus; deletion predicate only on the
    //      serving-corpus CTE). Closes the family × purge matrix for
    //      flat SQ8 (r16 ask 1). ----
    "q_ann_sq8_index_purge" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-sq8-purge-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildSqIndex(
        emb, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(s"$tmp/orig")
      graft.operators.PqIndex.delete(s"$tmp/orig",
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      graft.operators.PqIndex.purge(s, s"$tmp/orig", s"$tmp/purged")
      val loaded = graft.operators.PqIndex.load(s, s"$tmp/purged")
      graft.operators.SimilaritySearch.searchPqIndex(
          loaded, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-SQ8 persisted serve: the fourth cell of the {flat, IVF} ×
    //      {PQ, SQ8} matrix (FAISS IndexIVFScalarQuantizer) — coarse
    //      k-means lists bound WHICH codes a query scores, per-dim
    //      linear byte codes bound the BYTES per code. Split gate: only
    //      the k-means half (centroids) freezes for the oracle; the
    //      scalar quantizer is re-derived from scratch in the replay. ----
    "q_ann_ivfsq_index" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfsq-idx-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfSqIndex(
        emb, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(tmp)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfsq_index", "centroids", n, tok),
        loaded.codebooks,
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-SQ8 tombstone delete: FAISS remove_ids on the fourth
    //      family — codes masked at load, neither quantizer retrained;
    //      value-exact under the same replay with the deletion predicate
    //      on its serving corpus CTE. ----
    "q_ann_ivfsq_index_delete" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfsq-del-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfSqIndex(
        emb, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(tmp)
      graft.operators.IvfPqIndex.delete(tmp,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfsq_index_delete", "centroids",
          n, tok),
        loaded.codebooks,
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-SQ8 incremental ingest: the standing index (both
    //      quantizer halves — coarse k-means AND the per-dim min/max
    //      ranges) trains on the evens; the odd batch is APPENDED via
    //      the shared IvfPqIndex.append (the same fused assign+encode
    //      kernel as the build, against the FROZEN pair). Serve ==
    //      from-scratch encode of the full corpus under the standing
    //      quantizers: the centroid half is frozen from the gate, the
    //      scalar half re-derived from the STANDING corpus in SQL. ----
    "q_ann_ivfsq_index_incremental" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfsq-inc-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      graft.operators.SimilaritySearch.buildIvfSqIndex(
        standing, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(tmp)
      graft.operators.IvfPqIndex.append(s, tmp, batch, "vec_id", "embedding",
        batchId = 1L)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfsq_index_incremental",
          "centroids", n, tok),
        loaded.codebooks,
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-SQ8 PHYSICAL PURGE: tombstone the odd tail, purge via the
    //      shared IvfPqIndex machinery (load → save to a fresh root),
    //      serve — surviving codes rewritten, deletes gone, NEITHER
    //      quantizer half retrained. Purged == masked serve under the
    //      split replay: centroids frozen from the gate, the scalar half
    //      re-derived from scratch in SQL; the deletion predicate sits
    //      only on the serving-corpus CTE. Closes the family × purge
    //      matrix for IVF-SQ8 (r16 ask 1). ----
    "q_ann_ivfsq_index_purge" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfsq-purge-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfSqIndex(
        emb, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(s"$tmp/orig")
      graft.operators.IvfPqIndex.delete(s"$tmp/orig",
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      graft.operators.IvfPqIndex.purge(s, s"$tmp/orig", s"$tmp/purged")
      val loaded = graft.operators.IvfPqIndex.load(s, s"$tmp/purged")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfsq_index_purge", "centroids",
          n, tok),
        loaded.codebooks,
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- STREAMING index ingest (LSH): the standing index is built on
    //      the evens; the odds arrive as a STREAM (file source,
    //      maxFilesPerTrigger=1 over a 2-file staging dir → 2 real
    //      micro-batches) and land via LshIndex.ingestStream — each
    //      micro-batch appended as its own partition keyed by the
    //      streaming batchId, so Structured Streaming's same-id replay
    //      of an uncommitted batch makes ingest exactly-once. Signatures
    //      are pure per-vector functions, so the streamed index serves
    //      EXACTLY what from-scratch lshTopK serves — the same
    //      full-corpus multi-probe replay certifies it. Fresh-slate per
    //      invocation (checkpoint + staging deleted first): rewritten
    //      source files would otherwise look new to an old checkpoint
    //      and double-ingest. ----
    "q_ann_lsh_index_stream" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-lsh-stream-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = t(s, dir, "embeddings")
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .repartition(2).write.parquet(s"$tmp/src")
      graft.operators.SimilaritySearch.buildLshIndex(
        standing, "vec_id", "embedding",
        bitsPerBand = AnnConfig.lshBits,
        numBands = AnnConfig.lshBands).save(s"$tmp/index")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      graft.operators.LshIndex.ingestStream(s"$tmp/index", stream,
        "vec_id", "embedding", checkpoint = s"$tmp/ckpt",
        bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands)
        .awaitTermination()
      graft.operators.SimilaritySearch.searchLshIndex(
          graft.operators.LshIndex.load(s, s"$tmp/index"),
          emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- STREAMING index ingest (PQ): the compressed-index twin — the
    //      quantizer trains on the standing evens, the odd stream's
    //      micro-batches encode against the FROZEN codebooks and land as
    //      their own codes partitions (exactly-once via the same
    //      idempotent-batchId contract). Codes are pure per-vector
    //      functions of the quantizer, so the streamed index serves what
    //      a from-scratch encode serves — the frozen-codebook ADC replay
    //      certifies it value-exact. ----
    "q_ann_pq_index_stream" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-pq-stream-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .repartition(2).write.parquet(s"$tmp/src")
      graft.operators.SimilaritySearch.buildPqIndex(
        standing, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(s"$tmp/index")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      graft.operators.PqIndex.ingestStream(s"$tmp/index", stream,
        "vec_id", "embedding", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
      val loaded = graft.operators.PqIndex.load(s, s"$tmp/index")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.PqIndex(
        freeze(loaded.codebooks, "q_ann_pq_index_stream", "codebooks",
          n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- OPQ for the FLAT PQ index (r17, closing the matrix: IVF-PQ
    //      has carried OPQ since r16 — FAISS composes OPQMatrix with
    //      IndexPQ too). Full first-class lifecycle in one gate: the
    //      quantizer trains in ROTATED space on the standing evens
    //      (buildPqIndex(opq=true) persists the frame in the root), the
    //      odd stream's micro-batches are AUTO-ROTATED by PqIndex.append
    //      before encoding against the frozen codebooks, and serve takes
    //      RAW corpus/queries (searchPqIndex rotates internally).
    //      Value-exact under the rotated-space flat ADC replay
    //      (annPqOpqSql): codes are pure per-vector functions of the
    //      frozen rotation + codebook pair, so streamed == from-scratch.
    //      Flat PQ + OPQ is the small-corpus shape where coarse lists
    //      don't pay their probe overhead (SCALE.md). ----
    "q_ann_pq_opq_index" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-pq-opq-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .repartition(2).write.parquet(s"$tmp/src")
      graft.operators.SimilaritySearch.buildPqIndex(
        standing, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        opq = true).save(s"$tmp/index")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      graft.operators.PqIndex.ingestStream(s"$tmp/index", stream,
        "vec_id", "embedding", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
      val loaded = graft.operators.PqIndex.load(s, s"$tmp/index")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.PqIndex(
        freeze(loaded.codebooks, "q_ann_pq_opq_index", "codebooks", n, tok),
        loaded.codes,
        rotation = loaded.rotation.map(r =>
          freeze(r, "q_ann_pq_opq_index", "rotation", n, tok)))
      // RAW corpus and queries — the index rotates internally
      graft.operators.SimilaritySearch.searchPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- STREAMING index ingest (IVF-SQ8): completes the {family} ×
    //      {stream} matrix — both quantizer halves (coarse k-means +
    //      per-dim min/max ranges) train on the standing evens; the odd
    //      stream's micro-batches run the shared fused assign+encode
    //      kernel against the FROZEN pair via IvfPqIndex.ingestStream
    //      (idempotent per-batchId append + checkpoint replay =
    //      exactly-once). Value-exact under the same replay as the
    //      incremental gate: centroid half frozen from the gate, scalar
    //      half re-derived from the STANDING corpus in SQL. ----
    "q_ann_ivfsq_index_stream" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfsq-stream-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .repartition(2).write.parquet(s"$tmp/src")
      graft.operators.SimilaritySearch.buildIvfSqIndex(
        standing, "vec_id", "embedding",
        codebookSize = AnnConfig.sqLevels).save(s"$tmp/index")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      graft.operators.IvfPqIndex.ingestStream(s"$tmp/index", stream,
        "vec_id", "embedding", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
      val loaded = graft.operators.IvfPqIndex.load(s, s"$tmp/index")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfsq_index_stream", "centroids",
          n, tok),
        loaded.codebooks,
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-PQ persisted serve: build → save → load → search — the
    //      PRODUCTION standing-index lifecycle for the billion-vector
    //      layout (14.6 B/vec measured at sf10). Split gate: the LOADED
    //      centroids + codebooks are frozen for the oracle, and since
    //      assignment, encode, probing, ADC, and re-rank are all
    //      deterministic given the frozen pair (parquet round-trips
    //      doubles exactly), the persisted serve is value-exact under
    //      the same from-scratch replay as q_ann_ivfpq. ----
    "q_ann_ivfpq_index" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-idx-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(tmp)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_index", "centroids", n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_index", "codebooks", n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-PQ incremental ingest: standing index built (quantizers
    //      trained) on even vec_ids, the odd batch appended as its own
    //      codes/batch=1 partition via the SAME fused assign+encode
    //      kernel against the frozen centroids + codebooks — value-exact
    //      under the full-corpus replay (assignment and code are pure
    //      per-vector functions of the frozen quantizer pair). ----
    "q_ann_ivfpq_index_incremental" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-inc-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        standing, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(tmp)
      graft.operators.IvfPqIndex.append(s, tmp, batch, "vec_id", "embedding",
        batchId = 1L)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_index_incremental",
          "centroids", n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_index_incremental",
          "codebooks", n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-PQ tombstone delete: the takedown path for the production
    //      index shape (FAISS remove_ids — codes masked at load, neither
    //      quantizer retrained). Build on the full corpus, tombstone the
    //      odd vec_ids >= maxQueries, serve — value-exact against the
    //      same frozen-quantizer replay with the deletion predicate on
    //      its one corpus CTE (annIvfPqSqlOver). ----
    "q_ann_ivfpq_index_delete" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-del-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize).save(tmp)
      graft.operators.IvfPqIndex.delete(tmp,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_index_delete", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_index_delete", "codebooks",
          n, tok),
        loaded.codes)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-PQ with RESIDUAL encoding (FAISS IndexIVFPQ's default):
    //      codes quantize v − assigned centroid instead of v — the
    //      coarse quantizer already explains centroid-scale structure,
    //      so the same m bytes resolve the fine detail (higher recall,
    //      identical scan fraction and storage; measured in
    //      EVIDENCE/SCALE). Serve pays per-probed-list ADC cross terms,
    //      built lazily per partition. Build → save (meta sidecar
    //      persists the encoding) → load → serve; value-exact under the
    //      residual replay (encode CTE subtracts the frozen assigned
    //      centroid; ADC adds the per-list <q,c> and |c+d|² terms in
    //      kernel fold order). ----
    "q_ann_ivfpq_residual_index" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-res-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(tmp)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_residual_index", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_residual_index", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-PQ over HIERARCHICALLY-trained coarse lists: the two-level
    //      trainer (level-1 k-means branches + per-branch driver-local
    //      Lloyd over the bounded sample) that replaces flat Lloyd past
    //      the measured C=16384 cap (SCALE.md: 770 s flat at the cap;
    //      two-level is ~2·sqrt(C)/C of that cost). Built by-residual —
    //      the deploy configuration. Serving and the oracle replay
    //      depend only on the FROZEN centroid frame, never on which
    //      trainer produced it, so the gate is value-exact under the
    //      unchanged residual replay. ----
    "q_ann_ivfpq_hier_index" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-hier-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val cents = graft.operators.SimilaritySearch.hierarchicalCentroidsDf(
        emb, "vec_id", "embedding")
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true,
        centroids = Some(cents)).save(tmp)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_hier_index", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_hier_index", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- OPQ-rotated IVF-PQ (FAISS IndexPreTransform: OPQMatrix →
    //      IndexIVFPQ by_residual): an orthogonal rotation trained by
    //      alternating PQ-fit / Procrustes (opqRotationDf) is FROZEN
    //      like the centroids, the corpus is rotated against the frozen
    //      frame, and the standard residual build/serve runs entirely
    //      in rotated space — orthogonality preserves cosines, so the
    //      rankings are rankings of the original vectors. The one
    //      remaining recall lever at fixed bytes (r16 ask 2); its
    //      measured effect scales with corpus anisotropy (SCALE.md OPQ
    //      row). Value-exact: the replay rotates each vector via
    //      list_dot_product against the frozen rotation rows (the exact
    //      matVec fold), then the unchanged residual-ADC chain. ----
    "q_ann_ivfpq_opq_index" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-opq-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val (n, tok) = corpusSig(emb)
      val rot = graft.operators.SimilaritySearch.opqRotationDf(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize)
      // rotate against the FROZEN frame (parquet round-trips doubles
      // exactly), so gate and replay compute identical rotated vectors
      val rotated = graft.operators.SimilaritySearch.rotateVectors(
        emb, freeze(rot, "q_ann_ivfpq_opq_index", "rotation", n, tok),
        "vec_id", "embedding")
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        rotated, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(tmp)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_opq_index", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_opq_index", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, rotated, rotated.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- OPQ FIRST-CLASS lifecycle (r16): the rotation is persisted IN
    //      the index root, so build(opq=true) → save → STREAM-ingest →
    //      load → serve runs with the rotation applied AUTOMATICALLY at
    //      every boundary — streamed batches rotate before encoding
    //      (IvfPqIndex.append reads the rotation dir), and serve takes
    //      RAW corpus/queries and rotates internally. This closes the
    //      forget-to-rotate-the-batch hazard, the same silent-corruption
    //      class as the raw-vs-residual meta mixup. Value-exact under
    //      the same rotated-space replay as q_ann_ivfpq_opq_index
    //      (streamed codes are pure per-vector functions of the frozen
    //      rotation + quantizer pair). ----
    "q_ann_ivfpq_opq_lifecycle" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-opqlife-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .repartition(2).write.parquet(s"$tmp/src")
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        standing, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true, opq = true).save(s"$tmp/index")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      graft.operators.IvfPqIndex.ingestStream(s"$tmp/index", stream,
        "vec_id", "embedding", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
      val loaded = graft.operators.IvfPqIndex.load(s, s"$tmp/index")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_opq_lifecycle", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_opq_lifecycle", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual,
        rotation = loaded.rotation.map(r =>
          freeze(r, "q_ann_ivfpq_opq_lifecycle", "rotation", n, tok)))
      // RAW corpus and queries — the index rotates internally
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- STREAMING index ingest (IVF-PQ, BY-RESIDUAL — the deploy
    //      config): the standing index builds residual-encoded on the
    //      evens (meta sidecar persists the flag); the odd stream's
    //      micro-batches land via IvfPqIndex.ingestStream, whose append
    //      READS the persisted flag — so every streamed code quantizes
    //      v − assigned centroid against the frozen pair automatically.
    //      This is exactly where a raw-vs-residual mixup would silently
    //      serve garbage (r15 verdict ask 1); value-exact under the
    //      residual replay (codes are pure per-vector functions of the
    //      frozen quantizer pair + the persisted encoding flag). ----
    "q_ann_ivfpq_index_stream" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-stream-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .repartition(2).write.parquet(s"$tmp/src")
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        standing, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(s"$tmp/index")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      graft.operators.IvfPqIndex.ingestStream(s"$tmp/index", stream,
        "vec_id", "embedding", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
      val loaded = graft.operators.IvfPqIndex.load(s, s"$tmp/index")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_index_stream", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_index_stream", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- RESIDUAL lifecycle (incremental append + tombstone delete in
    //      one gate): the residual index builds on the evens, the odd
    //      batch lands via IvfPqIndex.append — which reads the persisted
    //      by_residual flag, so the appended codes quantize residuals
    //      against the FROZEN pair — then the odd tail is tombstoned and
    //      the masked index served. Folds the remaining two raw-only
    //      lifecycle rows into residual coverage (r15 verdict ask 1);
    //      value-exact under the residual replay with the deletion
    //      predicate on its one corpus CTE. ----
    "q_ann_ivfpq_residual_lifecycle" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-reslife-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val standing = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        standing, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(tmp)
      graft.operators.IvfPqIndex.append(s, tmp, batch, "vec_id", "embedding",
        batchId = 1L)
      graft.operators.IvfPqIndex.delete(tmp,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_residual_lifecycle",
          "centroids", n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_residual_lifecycle",
          "codebooks", n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-PQ PHYSICAL PURGE (the production family, residual
    //      config — r15 verdict ask 5): build residual on the full
    //      corpus, tombstone the odd tail, purge (load → save to a
    //      fresh root — surviving codes rewritten, quantizers AND the
    //      meta encoding flag copied, deletes dir gone). The purged
    //      serve must equal the masked serve, so the same
    //      deletion-predicate residual replay certifies it; the byte
    //      reclaim itself is measured at scale in SCALE.md
    //      (IndexFootprint before/after). ----
    "q_ann_ivfpq_index_purge" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-purge-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(s"$tmp/orig")
      graft.operators.IvfPqIndex.delete(s"$tmp/orig",
        emb.filter(pmod(col("vec_id"), lit(2)) === 1
          && col("vec_id") >= AnnConfig.maxQueries),
        "vec_id", batchId = 1L)
      graft.operators.IvfPqIndex.purge(s, s"$tmp/orig", s"$tmp/purged")
      val loaded = graft.operators.IvfPqIndex.load(s, s"$tmp/purged")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_index_purge", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_index_purge", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- FILTERED serve on the production index (FAISS IDSelector):
    //      search only the corpus slice passing a METADATA predicate —
    //      here the English documents, via the doc_id↔vec_id join — with
    //      the index still built over the FULL corpus. The allowed-id set
    //      semi-joins the codes BEFORE ADC (disallowed codes are never
    //      scored, the pre-filter shape that holds when the filter is
    //      selective at 100 TB); queries are the en vectors under
    //      maxQueries so both serve sides live in the filtered slice.
    //      Value-exact under the residual replay with the same metadata
    //      subquery on its one corpus CTE — encode/assign are pure
    //      per-vector functions of the frozen quantizers, so codes of
    //      allowed ids are identical whether the build encoded the full
    //      corpus (engine) or just the slice (oracle). ----
    "q_ann_ivfpq_filtered" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-filt-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val allowed = t(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(tmp)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_filtered", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_filtered", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      val queries = emb.join(allowed, Seq("vec_id"), "left_semi")
        .filter(col("vec_id") < AnnConfig.maxQueries)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, queries,
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor,
          allowed = Some(allowed))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- RANGE search on the production index (FAISS range_search on
    //      IndexIVFPQ): every neighbor with exact cosine >= rangeRadius,
    //      drawn from probed candidates whose ADC estimate clears
    //      rangeRadius − rangeMargin — radius semantics instead of
    //      top-k, the dedup/recall shape ("all near-duplicates of q",
    //      not "the 10 nearest"). No per-query heap: the kernel emits
    //      only above-cut rows, so the shuffle is output-sized. Value-
    //      exact: the oracle replays the same probe set, the same ADC
    //      doubles against the same cut, and the same exact-cosine
    //      threshold (annIvfPqRangeSql). ----
    "q_ann_ivfpq_range" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-range-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(tmp)
      val loaded = graft.operators.IvfPqIndex.load(s, tmp)
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_range", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_range", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.rangeSearchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding",
          radius = AnnConfig.rangeRadius, margin = AnnConfig.rangeMargin)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- SHARDED build + MERGE (FAISS merge_from): the cluster-scale
    //      build recipe — train the quantizer pair ONCE (here: on the
    //      even half), bootstrap an empty shard root carrying only the
    //      frozen frame (emptyLike), encode the odd shard into it with
    //      the standard append kernel, then merge the shard's batches
    //      into the standing root. merge REFUSES mismatched frames, so
    //      codes from different quantizers can never mix. The merged
    //      serve is value-exact under the residual replay over the full
    //      corpus — identical justification to the incremental gate
    //      (encode is a pure per-vector function of the frozen frame,
    //      wherever the encoding ran). ----
    "q_ann_ivfpq_merge" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-merge-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      registerCleanupOnExit(tmp)
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val evens = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odds = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      graft.operators.SimilaritySearch.buildIvfPqIndex(
        evens, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize,
        byResidual = true).save(s"$tmp/main")
      graft.operators.IvfPqIndex.emptyLike(s, s"$tmp/main", s"$tmp/shard")
      graft.operators.IvfPqIndex.append(s, s"$tmp/shard", odds,
        "vec_id", "embedding", batchId = 0L)
      graft.operators.IvfPqIndex.merge(s, s"$tmp/main", s"$tmp/shard")
      val loaded = graft.operators.IvfPqIndex.load(s, s"$tmp/main")
      val (n, tok) = corpusSig(emb)
      val idx = graft.operators.IvfPqIndex(
        freeze(loaded.centroids, "q_ann_ivfpq_merge", "centroids",
          n, tok),
        freeze(loaded.codebooks, "q_ann_ivfpq_merge", "codebooks",
          n, tok),
        loaded.codes,
        byResidual = loaded.byResidual)
      graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- bands-only LSH serving: persist ONLY the band rows (159 B/vec
    //      vs 558 self-contained — SCALE.md storage table) and rebind the
    //      vectors half to the corpus parquet at load; the scoring rows
    //      are derived by the same cast-at-read + norm the ingest
    //      applies, so the serve is value-exact under the SAME
    //      from-scratch multi-probe replay as every other LSH gate. ----
    "q_ann_lsh_index_bandsonly" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-lsh-bo-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(tmp)
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.buildLshIndex(
          emb, "vec_id", "embedding",
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands)
        .saveBandsOnly(tmp)
      val loaded = graft.operators.LshIndex.loadBandsOnly(
        s, tmp, emb, "vec_id", "embedding")
      graft.operators.SimilaritySearch.searchLshIndex(
          loaded, emb.filter(col("vec_id") < AnnConfig.maxQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          bitsPerBand = AnnConfig.lshBits, numBands = AnnConfig.lshBands,
          flipBits = AnnConfig.lshFlipBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- heavy hitters: tokens >= 3.35% of all occurrences, EXACT counts
    //      via the two-phase Misra-Gries prefilter (sketch bounds what gets
    //      re-counted; the answer itself is exact) ----
    "q_heavy_hitters" -> ((s, dir) => {
      graft.operators.HeavyHitters.frequentTokens(
          t(s, dir, "documents"), "text", phi = 0.0335)
        .orderBy(col("n").desc, col("token"))
    }),

    // ---- tf-idf: top-3 terms per document ----
    "q_tfidf" -> ((s, dir) => {
      graft.operators.TextRanking.tfidfTopTerms(
          t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- BM25 retrieval: top-5 docs per query (queries = first 4 docs'
    //      own text — the "more like this" shape); Okapi formula with the
    //      RSJ plus-one idf, replicated term-for-term in the oracle ----
    "q_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.TextRanking.bm25TopK(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 4)
            .select(col("doc_id").as("qid"), col("text").as("qtext")),
          "qid", "qtext", k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- hybrid retrieval: BM25 top-10 ⊕ embedding-cosine top-10 fused
    //      by reciprocal-rank fusion (rrfK=60), top-5 per query — the
    //      RAG-stack hybrid-search shape; queries are the first 4 docs
    //      (text for the lexical leg, their aligned embedding for the
    //      semantic leg). Both legs and the fusion replicated
    //      term-for-term in the oracle. ----
    "q_hybrid_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.operators.TextRanking.bm25TopK(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < 4)
          .select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", k = 10)
      val sem = graft.operators.SimilaritySearch.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 10)
        .select(col("q_id"), col("n_id").as("id"), col("rank"))
      graft.operators.TextRanking.rrfFuse(lex, sem, k = 5)
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("rank_a", "lex_rank")
        .withColumnRenamed("rank_b", "sem_rank")
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- hybrid retrieval, PQ-SERVED semantic leg: same BM25 ⊕ RRF
    //      shape, but the cosine leg comes from the IVF-PQ index
    //      (probe-bounded ADC scan + exact re-rank) instead of a
    //      brute-force corpus pass — the production RAG serving stack.
    //      Split gate: centroids + codebooks frozen for the oracle, so
    //      BOTH legs and the fusion are value-exact; fused-list overlap
    //      vs the exact hybrid additionally lands in the evidence file. ----
    "q_hybrid_retrieval_pq" -> ((s, dir) => {
      import graft.operators.AnnConfig
      val docs = t(s, dir, "documents")
      val emb = requirePqDims(t(s, dir, "embeddings"))
      val (n, tok) = corpusSig(emb)
      val built = graft.operators.SimilaritySearch.buildIvfPqIndex(
        emb, "vec_id", "embedding",
        numSubspaces = AnnConfig.numSubspaces,
        codebookSize = AnnConfig.codebookSize)
      val idx = graft.operators.IvfPqIndex(
        freeze(built.centroids, "q_hybrid_retrieval_pq", "centroids", n, tok),
        freeze(built.codebooks, "q_hybrid_retrieval_pq", "codebooks", n, tok),
        built.codes)
      val lex = graft.operators.TextRanking.bm25TopK(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < AnnConfig.hybridQueries)
          .select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", k = 10)
      val sem = graft.operators.SimilaritySearch.searchIvfPqIndex(
          idx, emb, emb.filter(col("vec_id") < AnnConfig.hybridQueries),
          "vec_id", "embedding", k = AnnConfig.k,
          rerankFactor = AnnConfig.rerankFactor)
        .select(col("q_id"), col("n_id").as("id"), col("rank"))
      graft.operators.TextRanking.rrfFuse(lex, sem, k = 5)
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("rank_a", "lex_rank")
        .withColumnRenamed("rank_b", "sem_rank")
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- deterministic stratified sampling (exact per-stratum counts) ----
    "q_sample_stratified" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedExact(
          t(s, dir, "documents"), "source", "doc_id", fraction = 0.3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).as("sampled_id_sum"))
        .orderBy(col("source"))
    }),

    // ---- unigram-LM surprisal (perplexity-proxy quality filter): model
    //      trained on the corpus itself (top-64 vocab here so the OOV
    //      floor path is exercised), mean -log2 p per token. ----
    "q_unigram_surprisal" -> ((s, dir) => {
      graft.operators.UnigramLM.surprisal(
          t(s, dir, "documents"), "doc_id", "text", maxVocab = 64)
        .orderBy(col("doc_id"))
    }),

    // ---- token-window chunking (RAG / context-shard unit): 40-token
    //      windows, stride 30 (overlapping); certifies boundaries, counts
    //      and reassembled chunk text. ----
    "q_chunk_tokens" -> ((s, dir) => {
      graft.operators.Chunking.tokenChunks(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 40, stride = 30)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("n_chunk_tokens"), length(col("chunk_text")).as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- leakage-safe split: holdout membership decided by near-dup
    //      COMPONENT hash, so near-copies never straddle the split. ----
    "q_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.ngramJaccardPairsPrefix(
        docs, "doc_id", "text", n = 3, threshold = 0.8)
      graft.operators.Sampling.leakageSafeSplit(
          docs, pairs, "doc_id", "id_a", "id_b", holdoutFraction = 0.2)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))
    }),

    // ---- mixture resampling: build a training mix — uniform target share
    //      per source under a 8000-token budget; each source down-samples
    //      by deterministic md5 thresholding (frac = share x budget /
    //      source_tokens). Certifies counts AND sampled token mass. ----
    "q_mixture_sample" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      val shares = (0 until 20).map(i => s"src$i" -> 0.05).toMap
      graft.operators.Sampling.mixtureSample(
          t(s, dir, "documents"), "source", "doc_id",
          TextAnalysis.tokenCount(col("text")), shares, totalBudget = 8000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("sampled_tokens"),
          sum(col("doc_id")).as("sampled_id_sum"))
        .orderBy(col("source"))
    }),

    // ---- sequence packing: documents → contiguous token-budget bins
    //      (context windows) in doc_id order, via the two-phase distributed
    //      prefix sum (no single-partition global window). ----
    "q_pack_sequences" -> ((s, dir) => {
      graft.operators.Packing.packByBudget(
          t(s, dir, "documents"), "doc_id",
          graft.functions.TextAnalysis.tokenCount(col("text")), budget = 1000L)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("weight")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("bin"))
    }),

    // ---- deterministic shuffle-shard: reproducible pseudo-random corpus
    //      permutation + round-robin shard split (balanced to ±1 row). ----
    "q_shard_assign" -> ((s, dir) => {
      graft.operators.Sharding.shuffleShard(
          t(s, dir, "documents"), "doc_id", nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          max(col("shard_pos")).as("max_pos"))
        .orderBy(col("shard"))
    }),

    // ---- the COMPOSED end-to-end curation pipeline (r16 ask 2): every
    //      stage is gated individually, but only a composed gate can
    //      catch cross-stage contract bugs (id drift, ordering
    //      nondeterminism, column mixups). normalize → exact-dedup →
    //      MinHash near-dedup → cluster keep-best → decontaminate (vs
    //      the doc_id % 97 benchmark split) → NB quality filter →
    //      mixture sample → pack → shard, emitting per-document lineage;
    //      the oracle chains the per-stage DuckDB recipes as one CTE
    //      graph. ----
    "q_pipeline_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val shares = (0 until 20).map(i => s"src$i" -> 0.05).toMap
      graft.operators.CurationPipeline.curate(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", "source", shares,
          totalBudget = 8000L, packBudget = 1000L, nShards = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- the STREAMING twin: continuous-ingestion curation. The batch
    //      pipeline above is a corpus-level derivation; this is the
    //      front-end that runs as documents ARRIVE — per micro-batch:
    //      fixture-frozen NB language admission (per-doc, stream==batch
    //      trivially) → near-dedup against the STANDING index of every
    //      previously admitted doc (StreamingNearDedup, the stateful
    //      stage) → first-seen-wins keep/drop decided AT BATCH TIME
    //      (predecessors all live in batches <= i) → survivors land with
    //      lineage (arrival batch, token count) in a batch-partitioned
    //      curated lake, every write an idempotent partition overwrite
    //      (the exactly-once contract q_dedup_stream pins). A dropped
    //      doc still indexes — seen content suppresses future dups
    //      regardless of its own fate (crawl semantics). Value-exact:
    //      the per-batch pair union equals the batch-mode pair set, so
    //      the lake equals the oracle's one-shot derivation. ----
    "q_pipeline_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-stream-pipe-" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "-p" + ProcessHandle.current().pid()).toString
      registerCleanupOnExit(base)
      // fresh ingestion run per invocation (bench reps reuse the process)
      locally {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(base))
      }
      // the admission model trains ONCE and freezes — per-batch scoring
      // only (the streaming contract: models don't drift mid-stream)
      val spark2 = s
      import spark2.implicits._
      val model = graft.operators.LangIdNb.train(
        graft.operators.LangIdNb.fixture.toDF("lang", "s"), "lang", "s")
      val nBatches = 4
      (0L until nBatches.toLong).foreach { i =>
        graft.streaming.StreamingCuration.processBatch(
          docs.filter(pmod(col("doc_id"), lit(nBatches)) === i), i,
          "doc_id", "text", model, admitLang = "en", baseDir = base)
        : Unit
      }
      graft.streaming.StreamingCuration.curated(s, base, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- PII scrub: detect + redact emails/URLs. The synthetic corpus has
    //      no PII, so both sides inject it deterministically from doc_id
    //      arithmetic first — the scrubber is then exercised on real
    //      matches, and the redacted-length sum certifies the rewrite. ----
    "q_pii_scrub" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      val injected = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" see https://example.org/d/"),
            col("doc_id").cast("string"), lit(" for details")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .withColumn("t2", injected)
        .select(col("source"),
          TextAnalysis.emailCount(col("t2")).as("n_em"),
          TextAnalysis.urlCount(col("t2")).as("n_url"),
          length(TextAnalysis.scrubPii(col("t2"))).as("clean_len"))
        .groupBy(col("source"))
        .agg(count(when(col("n_em") + col("n_url") > 0, 1)).as("n_pii_docs"),
          sum(col("n_em")).cast("long").as("n_emails"),
          sum(col("n_url")).cast("long").as("n_urls"),
          sum(col("clean_len")).cast("long").as("clean_len_sum"))
        .orderBy(col("source"))
    }),

    // ---- within-document repetition signals (Gopher-style quality
    //      filters): most-frequent-token fraction and duplicate-bigram
    //      fraction — all row-local kernels, zero shuffles. ----
    "q_doc_repetition" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      val nTok = TextAnalysis.tokenCount(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          nTok.as("n_tokens"),
          round(TextAnalysis.topTokenCount(col("text"))
            / greatest(nTok, lit(1)).cast("double"), 4).as("top_token_frac"),
          round(TextAnalysis.dupBigramFrac(col("text")), 4).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // ---- text statistics ----
    "q_text_stats" -> ((s, dir) => {
      import graft.functions.TextAnalysis._
      val d = t(s, dir, "documents")
      val toks = tokens(col("text"))
      d.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          size(toks).as("n_tokens"),
          round(coalesce(aggregate(toks, lit(0L), (acc, x) => acc + length(x)), lit(0L))
            / greatest(size(toks), lit(1)).cast("double"), 4).as("avg_tok_len"))
        .orderBy(col("doc_id"))
    }),

    // ---- language identification (heuristic replicated in the oracle) ----
    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(graft.functions.TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    }),

    // ---- TRAINED language id: closed-form multinomial NB over char
    //      trigrams (the fastText-style baseline) — the learned tier
    //      above the stopword heuristic. Trains on the in-code labeled
    //      fixture (LangIdNb.fixture) and scores every document; the
    //      oracle re-derives the ENTIRE model from scratch in SQL from
    //      the same inlined fixture — no frozen frame. Spec measures
    //      accuracy vs the heuristic on held-out multilingual
    //      sentences (strictly better on stopword-free text). ----
    "q_lang_id_nb" -> ((s, dir) => {
      graft.operators.LangIdNb.predictWithFixture(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- the SUPERVISED variant: the same closed-form NB trained
    //      DISTRIBUTED on the corpus's own labeled half (even doc_ids,
    //      the table's lang column — synthetic labels, so this gates the
    //      ARITHMETIC of corpus-scale training, not linguistic recall),
    //      scoring the odd half. Same from-scratch SQL re-derivation,
    //      training CTE swapped for the even-doc select. ----
    "q_lang_id_nb_supervised" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.LangIdNb.train(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "text")
      graft.operators.LangIdNb.predict(model,
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- quality scoring ----
    "q_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: binary media columns, header decode via batched
    //      mapPartitions (decode stub; header fields + payload length are
    //      oracle-checkable from doc_id arithmetic / octet_length) ----
    "q_multimodal_meta" -> ((s, dir) => {
      graft.operators.Multimodal.decodeMeta(
          graft.operators.Multimodal.synthesize(t(s, dir, "documents"))).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("payload_len")).as("sum_payload"),
          sum(col("width")).as("sum_width"),
          sum(col("n_frames")).as("sum_frames"))
        .orderBy(col("kind"))
    }),

    // ---- multimodal REAL decode: synthesize genuine BMP/WAV/frame-container
    //      files whose every encoded property derives from doc_id arithmetic,
    //      decode them back with the real parsers (core.media.BmpCodec /
    //      WavCodec), aggregate the DECODED pixel/sample statistics. The
    //      oracle recomputes the closed forms — matching is only possible if
    //      actual pixels/samples round-trip correctly. ----
    "q_multimodal_decode" -> ((s, dir) => {
      graft.operators.Multimodal.decodeStats(
          graft.operators.Multimodal.synthesizeMedia(t(s, dir, "documents"))).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("width")).as("sum_width"),
          sum(col("n_frames")).as("sum_frames"),
          sum(col("n_samples")).as("sum_samples"),
          round(sum(col("stat1")), 3).as("sum_stat1"),
          round(sum(col("stat2")), 3).as("sum_stat2"))
        .orderBy(col("kind"))
    }),

    // ---- REAL PNG decode via the JDK's ImageIO: synthesizePng emits
    //      genuine (lossless) PNG files with closed-form dims/colors in
    //      doc_id; matching the oracle is only possible if ImageIO actually
    //      parses the pixels back out. ----
    "q_multimodal_png" -> ((s, dir) => {
      graft.operators.Multimodal.decodeStats(
          graft.operators.Multimodal.synthesizePng(t(s, dir, "documents"))).toDF()
        .agg(count(lit(1)).as("n"),
          sum(col("width")).as("sum_width"),
          sum(col("height")).as("sum_height"),
          round(sum(col("stat1")), 3).as("sum_mean_r"),
          round(sum(col("stat2")), 3).as("sum_mean_b"))
    }),

    // ---- REAL image resize over decoded rasters: synthesizeMedia's solid
    //      images have closed-form dims/colors in doc_id, so the resized
    //      output (dims AND per-channel means, invariant under resample of
    //      a solid) is SQL-computable. ----
    "q_multimodal_resize" -> ((s, dir) => {
      import graft.core.media.BmpCodec
      val s2 = s
      import s2.implicits._
      val media = graft.operators.Multimodal.synthesizeMedia(t(s, dir, "documents"))
      graft.operators.Multimodal.resizeImages(media, 24, 24)
        .map { r =>
          val img = BmpCodec.decode(r.getAs[Array[Byte]]("out_bytes")).toOption.get
          (r.getLong(0), r.getInt(1), r.getInt(2),
            math.rint(img.meanR * 1000) / 1000, math.rint(img.meanG * 1000) / 1000,
            math.rint(img.meanB * 1000) / 1000)
        }.toDF("media_id", "out_width", "out_height", "mean_r", "mean_g", "mean_b")
        .orderBy(col("media_id"))
    }),

    // ---- REAL video frame sampling: stride-2 frames of the BMP-frame
    //      container, each a standalone decodable BMP whose solid gray
    //      level is (id*5+frame)%256 — all closed-form. ----
    "q_multimodal_frames" -> ((s, dir) => {
      import graft.core.media.BmpCodec
      val s2 = s
      import s2.implicits._
      val media = graft.operators.Multimodal.synthesizeMedia(t(s, dir, "documents"))
      graft.operators.Multimodal.sampleFrameImages(media, stride = 2)
        .map { r =>
          val img = BmpCodec.decode(r.getAs[Array[Byte]]("frame_bytes")).toOption.get
          (r.getLong(0), r.getInt(1), img.width, img.height,
            math.rint(img.meanR * 1000) / 1000)
        }.toDF("media_id", "frame_idx", "width", "height", "gray")
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- flagship corpus-cleaning pipeline: exact-dedup representatives
    //      ∘ quality threshold ∘ language filter, per source ----
    "q_corpus_clean" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      val d = graft.operators.Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
      d.withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_rep") && col("quality") >= 0.5
            && col("lang_pred") === "en", 1).otherwise(0)).as("n_clean"))
        .orderBy(col("source"))
    }),

    // ---- correlated aggregate: spenders above 1.5x their nation's average ----
    "q_correlated" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("spend"))
      val cust = t(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"))
      val natAvg = cust.groupBy(col("c_nationkey").as("nk"))
        .agg(avg(col("spend")).as("nation_avg"))
      cust.join(natAvg, col("c_nationkey") === col("nk"))
        .filter(col("spend") > col("nation_avg") * 1.5)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_big"), round(max(col("spend")), 2).as("max_spend"))
        .orderBy(col("c_nationkey"))
    }),

    // ---- Count-Min sketch heavy-hitter estimates (custom Aggregator;
    //      estimates overcount by construction → rows-only check) ----
    "q_sketch_tokens" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.TextAnalysis.tokens(col("text"))).as("tok"))
        .as[String]
      val agg = new graft.functions.CountMinSketchAgg(depth = 4, width = 4096)
      val sketch = toks.select(agg.toColumn).head()
      val probes = Seq("the", "a", "data", "spark", "zz_absent")
      probes.map(p => (p, sketch.estimate(p))).toDF("token", "est_count")
        .orderBy(col("token"))
    }),

    // ---- the exact half of the distinct-count pair: per-source exact
    //      distinct trigram shingles. Counted over the 64-bit shingle
    //      hash (8-byte shuffle keys); equals the oracle's count over the
    //      shingle strings unless xxhash64 collides on this corpus
    //      (p ~ n²/2⁶⁵ — and a collision would surface as a value
    //      mismatch). Value-exact gate; its HLL sibling q_approx_distinct
    //      stays rows-only with measured-error evidence. ----
    "q_distinct_exact" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("sh0"))
        .select(col("source"), xxhash64(col("sh0")).as("sh"))
        .groupBy(col("source"), col("sh")).agg(lit(1).as("one"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("source"))
    }),

    // ---- HLL++ approximate distinct counts per source over trigram
    //      shingles (high-cardinality on purpose — tokens alone have a
    //      tiny vocabulary here). Sketch internals aren't SQL-replicable
    //      → rows-only; measured relative error lands in
    //      no_oracle_evidence.json and is asserted in the spec. The
    //      exact count(distinct) half is additionally split out as the
    //      value-exact gate q_distinct_exact. ----
    "q_approx_distinct" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("sh0"))
        // distinct-count the 64-bit shingle hash, not the string: the
        // partial aggregate shuffles 8-byte keys instead of ~24-byte
        // shingles (cardinality identical modulo 2^-64 collisions; the
        // HLL sketch hashes its input anyway)
        .select(col("source"), xxhash64(col("sh0")).as("sh"))
        // PRE-DISTINCT the (source, hash) pairs, then count + HLL over the
        // distinct rows: countDistinct and approx_count_distinct in ONE
        // aggregate trigger the multi-distinct Expand rewrite, which the
        // sf1 rehearsal measured at 43s vs 5s for this shape (values are
        // identical — HLL over a set equals HLL over the multiset)
        .groupBy(col("source"), col("sh")).agg(lit(1).as("one"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_exact"),
          approx_count_distinct(col("sh"), 0.02).as("n_approx"))
        .withColumn("rel_err",
          round(abs(col("n_approx") - col("n_exact"))
            / col("n_exact").cast("double"), 4))
        .orderBy(col("source"))
    }),

    // ---- document fingerprinting (counts are oracle-checkable) ----
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(graft.functions.TextAnalysis.fingerprint(col("text")))
            .as("n_distinct_fp"))
    }),

    // ---- exact phrase search: positional broadcast join, one join + one
    //      agg regardless of phrase length; overlapping matches counted
    //      ("the the" in "the the the" = 2 anchors). Value-exact oracle
    //      via DuckDB list slicing. ----
    "q_phrase_search" -> ((s, dir) => {
      val phrases = s.createDataFrame(Seq(
        (1, "table hash"), (2, "slow hash batch"),
        (3, "value slow hash data"), (4, "the the"),
        (5, "zz absent phrase")))
        .toDF("q_id", "phrase")
      graft.operators.TextRanking.phraseSearch(
          t(s, dir, "documents"), "doc_id", "text", phrases, "q_id", "phrase")
        .orderBy(col("q_id"), col("doc_id"))
    }),

    // ---- DSIR importance resampling: select the 100 raw documents whose
    //      hashed-n-gram profile best matches the src0-2 target slice.
    //      md5-string buckets make the weights value-exact vs the oracle. ----
    "q_dsir_weights" -> ((s, dir) => {
      graft.operators.ImportanceSampling.dsirResample(
          t(s, dir, "documents"), "doc_id", "text",
          col("source").isin("src0", "src1", "src2"), n = 100)
        .orderBy(col("doc_id"))
    }),

    // ---- diversity (coverage) sampling over the embedding corpus:
    //      deterministic-centroid cells + per-cell md5 exemplars — equal
    //      per-cell selection covers the semantic space instead of
    //      mirroring corpus density ----
    "q_diversity_sample" -> ((s, dir) => {
      graft.operators.Sampling.diversitySample(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          numCells = 16, perCell = 5)
        .orderBy(col("cell"), col("pick_rank"))
    }),

    // ---- Unicode normalization pre-pass (NFC + control/zero-width strip
    //      + whitespace collapse) — row-local codegen kernel; DuckDB's
    //      nfc_normalize implements the same Unicode algorithm, so the
    //      oracle replicates every step verbatim ----
    "q_normalize_text" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- HTML -> visible-text extraction: wrap every document in a
    //      deterministic doc_id-derived HTML shell (script/style/comment
    //      noise + entities), extract with the row-local regex kernel,
    //      certify the recovered text byte-for-byte via md5 ----
    "q_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var id="),
        col("doc_id").cast("string"),
        lit(";track(id);</script><style>p{margin:0}</style></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><!-- auto --><p>"), col("text"),
        lit(" &amp; more</p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextAnalysis.htmlExtract(html).as("ex"))
        .select(col("doc_id"), length(col("ex")).as("n_chars"),
          md5(col("ex")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- trained quality classifier: self-supervised clean-vs-scrambled
    //      discriminator (negatives = token-sorted copies, unigram-
    //      identical — the model must learn order structure from hashed
    //      bigram features); L-BFGS training has no SQL form → rows-only;
    //      Verify emits holdout AUC + class-separation evidence. ----
    "q_quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // 12 L-BFGS iterations are plenty for the separable self-supervised
      // task (holdout AUC 1.0 in evidence); each iteration is a full job,
      // so the bench-relevant cost is iterations × job overhead
      val m = graft.operators.QualityClassifier.trainCleanVsScrambled(
        docs, "doc_id", "text", numFeatures = 1 << 16, maxIter = 12)
      graft.operators.QualityClassifier.score(docs, "doc_id", "text", m)
        .select(col("doc_id"),
          round(col("quality_score"), 4).as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // ---- Naive Bayes quality scorer: the CLOSED-FORM trained tier of
    //      the quality stack — same clean-vs-scrambled self-supervision
    //      as q_quality_classifier, but exact bigram counts + Laplace
    //      smoothing instead of L-BFGS, so train AND score replicate
    //      value-for-value in the DuckDB oracle. ----
    "q_quality_nb" -> ((s, dir) => {
      graft.operators.QualityClassifier.naiveBayesCleanVsScrambled(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher repetition rules: top/duplicate n-gram character
    //      fractions for n = 2..10, row-local codegen kernel (quality
    //      filtering at scan speed — no shuffle touches the text). ----
    "q_repetition_ngrams" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.expressions.repetition_rows(col("text"), 2, 10))
        .select(col("doc_id"), col("n"),
          round(col("top_frac"), 6).as("top_frac"),
          round(col("dup_frac"), 6).as("dup_frac"))
        .orderBy(col("doc_id"), col("n"))
    }),

    // ---- interpolated Kneser-Ney bigram LM surprisal: the smoothed
    //      perplexity filter (continuation-probability mass separates
    //      everywhere-words from one-context words); self-trained, exact
    //      closed-form counts -> value-exact oracle. ----
    "q_kneser_ney" -> ((s, dir) => {
      graft.operators.UnigramLM.kneserNeySurprisal(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- exact edit-distance near-dup pairs: PassJoin pigeonhole
    //      blocking (complete) + exact levenshtein verify over the
    //      normalized 120-char head; output equals brute force. ----
    "q_dedup_editdist" -> ((s, dir) => {
      graft.operators.Dedup.editDistancePairs(
          t(s, dir, "documents"), "doc_id", "text", maxDist = 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- per-document char/token Shannon entropy (repeated-char junk
    //      and flat-profile blob detector). ----
    "q_entropy" -> ((s, dir) => {
      graft.operators.CorpusStats.entropyProfile(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- per-source lexical diversity: distinct-n ratios n=1..3
    //      (collapsed distinct-2/3 flags template floods). ----
    "q_distinct_ngrams" -> ((s, dir) => {
      graft.operators.CorpusStats.distinctNgramStats(
          t(s, dir, "documents"), "source", "text")
        .orderBy(col("slice"))
    }),

    // ---- blocklist screening: token-level term hits + consecutive-run
    //      phrase hits, broadcast list, no UDF. ----
    "q_blocklist" -> ((s, dir) => {
      graft.operators.Blocklist.annotate(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("slow", "vector", "zzqq_absent", "slow hash", "table hash"))
        .orderBy(col("doc_id"))
    }),

    // ---- substring-level blocklist: Aho-Corasick one-pass multi-pattern
    //      matching (O(text) regardless of pattern count) — exploded
    //      (doc, pattern) audit pairs + the early-exit clean count ----
    "q_blocklist_substr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pats = SparkEntryOracles.substrBlocklistPatterns
      val pairs = graft.operators.SubstringBlocklist
        .matchPairs(docs, "doc_id", "text", pats)
      val clean = graft.operators.SubstringBlocklist
        .filterClean(docs, "text", pats)
        .agg(count(lit(1)).as("n"))
        .select(lit(-1L).as("doc_id"),
          concat(lit("clean:"), col("n").cast("string")).as("pattern"))
      pairs.unionAll(clean).orderBy(col("doc_id"), col("pattern"))
    }),

    // ---- PageRank over the supplier co-supply graph (edge s1->s2 with
    //      weight = #shared parts, symmetric by construction): 6 exact
    //      power iterations with dangling-mass handling — the oracle
    //      unrolls the identical recurrence in SQL ----
    "q_pagerank" -> ((s, dir) => {
      // explicit numbered repartition on the join key: the wedge
      // self-join's input is ~6 MB but its explosion + partial count is
      // CPU-dense, and AQE's byte-based coalescing squeezed it to 5
      // partitions (measured: 8.1 s of CPU on 5 tasks = the gate's
      // single hottest stage). A user-numbered repartition is exempt
      // from AQE coalescing and both self-join sides reuse the one
      // exchange; count is scale-adaptive (session shuffle partitions),
      // not a local[32] constant.
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("pk"))
        .distinct() // hash(pk) co-locates every (pk, sk): ONE exchange
      // build the undirected half (a < b, halves the wedge join) and
      // mirror after the aggregate — the graph is symmetric by definition.
      // The half-edge aggregate is CUT (eager localCheckpoint, identity on
      // data) before the mirror union: both union branches otherwise run
      // the 500k-key final aggregation over the full wedge shuffle ONCE
      // EACH (ReusedExchange shares only the map output — measured 2×77 MB
      // shuffle read and a second ~6 s agg pass). Released by the bench's
      // between-query RDD sweep.
      val eu = ps.as("a").join(ps.as("b"),
          col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("src"), col("b.sk").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
        .localCheckpoint(true)
      val e = eu.unionAll(eu.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      graft.operators.PageRank.run(e, "src", "dst", Some("w"), iters = 6,
          edgesUnique = true) // eu is an aggregate: one row per (src,dst)
        .select(col("node").as("supplier"), round(col("rank"), 7).as("rank"))
        .orderBy(col("supplier"))
    }),

    // ---- exact triangle counting (degree-ordered orientation — wedge
    //      join bounded O(m^1.5), no last-reducer hub blowup) on the
    //      >=140-shared-parts co-supply graph; oracle = naive triple
    //      join over the same edges ----
    "q_triangles" -> ((s, dir) => {
      // numbered repartition: exempt from AQE coalescing — see q_pagerank
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("pk"))
        .distinct() // hash(pk) co-locates every (pk, sk): ONE exchange
      // CUT the filtered edge table (eager localCheckpoint, identity on
      // data): triangleList references its edge input four times (degree
      // count, the two orientation joins, the closing join) — uncut, each
      // reference re-runs the wedge join's final aggregation (the map-side
      // shuffle is reused, the 500k-key agg is not)
      val e = ps.as("a").join(ps.as("b"),
          col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("lo"), col("b.sk").as("hi"))
        .agg(count(lit(1)).as("c")).where(col("c") >= 140)
        .select(col("lo"), col("hi"))
        .localCheckpoint(true)
      graft.operators.Triangles.perNode(e, "lo", "hi")
        .select(col("node").as("supplier"), col("triangles"))
        .orderBy(col("supplier"))
    }),

    // ---- funnel analysis: ordered view -> click -> purchase per user,
    //      greedy earliest-match chain (K tiny per-user shuffles, never
    //      the raw event stream) ----
    "q_funnel" -> ((s, dir) => {
      graft.operators.Funnel.userFunnel(events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .withColumnRenamed("user", "user_id")
        .orderBy(col("user_id"))
    }),

    "q_funnel_conversion" -> ((s, dir) => {
      graft.operators.Funnel.conversion(events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    }),

    // ---- personalized PageRank: teleport to nation-0 suppliers over
    //      the co-supply graph — relevance FROM the seed set's view ----
    "q_pagerank_personalized" -> ((s, dir) => {
      // numbered repartition: exempt from AQE coalescing — see q_pagerank
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("pk"))
        .distinct() // hash(pk) co-locates every (pk, sk): ONE exchange
      // eu cut before the mirror union — see q_pagerank
      val eu = ps.as("a").join(ps.as("b"),
          col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("src"), col("b.sk").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
        .localCheckpoint(true)
      val e = eu.unionAll(eu.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      // seed nation = the smallest nationkey PRESENT among suppliers (at
      // tiny SFs nation 0 may have no suppliers at all)
      val minNation = t(s, dir, "supplier")
        .agg(min(col("s_nationkey"))).head().getAs[Number](0).longValue()
      val seeds = t(s, dir, "supplier")
        .where(col("s_nationkey") === minNation)
        .select(col("s_suppkey").as("node"), lit(1.0).as("w"))
      graft.operators.PageRank.run(e, "src", "dst", Some("w"), iters = 6,
          personalization = Some(seeds), edgesUnique = true)
        .select(col("node").as("supplier"), round(col("rank"), 7).as("rank"))
        .orderBy(col("supplier"))
    }),

    // ---- Jaro-Winkler fuzzy matching: exact-scored pairs within
    //      explicit blocks (first-token key) — the record-linkage tier
    //      next to the edit-distance PassJoin; the oracle pins our JW
    //      kernel bit-for-bit against DuckDB's on real data ----
    "q_fuzzy_join" -> ((s, dir) => {
      // fixed id scope: fuzzy all-pairs within NAME-derived blocks is
      // inherently quadratic when the name vocabulary (and so the block
      // count) is fixed — the gate pins kernel+machinery correctness on a
      // constant slice; production keys must scale with the data (see
      // FuzzyJoin scaladoc)
      graft.operators.FuzzyJoin.jaroWinklerPairs(
          t(s, dir, "part").where(col("p_partkey") < 2000),
          "p_partkey", "p_name",
          graft.operators.FuzzyJoin.firstTokenKey("p_name"), 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- sorted-neighborhood fuzzy matching: the LINEAR-cost blocking
    //      (N·w pairs) — full table, no slice needed; global rank via the
    //      bucket-prefix decomposition, never a partition-less window ----
    "q_fuzzy_neighborhood" -> ((s, dir) => {
      graft.operators.FuzzyJoin.sortedNeighborhoodPairs(
          t(s, dir, "part"), "p_partkey", "p_name", "p_name",
          windowSize = 10, threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- PMI collocations: top adjacent-pair pointwise mutual
    //      information (minCount-floored; one tokenization pass feeds
    //      both count tables, shuffles carry vocabulary not corpus) ----
    "q_collocations" -> ((s, dir) => {
      graft.operators.Collocations.pmiTopK(
        t(s, dir, "documents"), "text", minCount = 5, topK = 50)
    }),

    // ---- grouped least-squares trend: built-in regr_* aggregates per
    //      event type, x = hours since a fixed origin (keeps the normal
    //      equations well-conditioned; raw epoch-micros x makes slopes
    //      ~1e-13 and cross-engine comparison degenerate) ----
    "q_regression" -> ((s, dir) => {
      events(s, dir)
        .withColumn("x",
          (unix_micros(col("ts")) - lit(1704067200000000L)) / lit(3.6e9))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(expr("regr_slope(value, x)"), 6).as("slope"),
          round(expr("regr_intercept(value, x)"), 6).as("intercept"),
          round(expr("regr_r2(value, x)"), 6).as("r2"))
        .orderBy(col("event_type"))
    }),

    // ---- cohort retention: day cohorts over events, offsets 0..10 —
    //      two user-keyed aggregations + one join, the raw stream
    //      shuffles once ----
    "q_retention" -> ((s, dir) => {
      graft.operators.Retention.cohortRetention(events(s, dir),
          "user_id", floor(unix_micros(col("ts")) / lit(86400000000L)),
          maxOffset = 10)
        .orderBy(col("cohort"), col("offset"))
    }),

    // ---- per-group cap: keep the 20 largest docs per source
    //      (deterministic n_chars DESC, doc_id tiebreak) — the C4-style
    //      per-domain cap. ----
    "q_cap_per_source" -> ((s, dir) => {
      graft.operators.Sampling.capPerGroup(
          t(s, dir, "documents"), "source", 20,
          Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_chars"), col("cap_rank"))
        .orderBy(col("source"), col("cap_rank"))
    }),

    // ---- winnowing (MOSS) fingerprint overlap pairs ----
    "q_dedup_winnow" -> ((s, dir) => {
      graft.operators.Winnowing.overlapPairs(
          t(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4, threshold = 0.2, maxDf = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- unicode-script composition + dominant-script routing ----
    "q_script_profile" -> ((s, dir) => {
      graft.operators.CorpusStats.scriptProfile(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id"))
    }),

    // ---- per-source vocabulary panel: TTR / hapax / head coverage /
    //      Zipf slope ----
    "q_vocab_stats" -> ((s, dir) => {
      graft.operators.CorpusStats.vocabStats(
          t(s, dir, "documents"), "source", "text", topN = 10)
        .orderBy(col("slice"))
    }),

    // ---- per-doc OOV rate vs the corpus top-16 token vocabulary (the
    //      synthetic corpus vocabulary is ~31 types; 16 keeps the gate
    //      discriminating) ----
    "q_oov_rate" -> ((s, dir) => {
      graft.operators.CorpusStats.oovRate(
          t(s, dir, "documents"), "doc_id", "text", vocabSize = 16)
        .orderBy(col("id"))
    }),

    // ---- incremental n-gram novelty (first-occurrence fraction) ----
    "q_novelty" -> ((s, dir) => {
      graft.operators.Dedup.noveltyScores(
          t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy(col("id"))
    }),
  )

  /** DuckDB-runnable oracles over the same parquet tables. Table names are
    * bare (driver registers views named after the files). */
  def oracleSql: Map[String, String] = Map(
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, round(l_extendedprice, 2) AS price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount > 0.05 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS l_year, l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
        |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |) GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        |  round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume), 4) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  c_acctbal, n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q12_late_lineitems" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN l_shipdate >  o_orderdate + INTERVAL 45 DAY THEN 1 END) AS late_count,
        |  count(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 45 DAY THEN 1 END) AS ontime_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_effect" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q18_large_volume" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  sum(l_quantity) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        |HAVING sum(l_quantity) > 150
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q19_discounted_revenue" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 25""".stripMargin,

    "q22_global_sales" ->
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
        |  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0 AND c_nationkey IN (1, 2, 3, 4, 5, 6, 7))
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin,

    "q_sort_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn, cum_spend FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER w AS rn,
        |    round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_setops" ->
      """(SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        | INTERSECT
        | SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY o_custkey""".stripMargin,

    "q_semi_anti" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
        |w AS (SELECT c_mktsegment, count(*) AS n_with_big FROM customer
        |      WHERE EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
        |      GROUP BY c_mktsegment),
        |wo AS (SELECT c_mktsegment, count(*) AS n_without_big FROM customer
        |       WHERE NOT EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
        |       GROUP BY c_mktsegment)
        |SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
        |       n_with_big, n_without_big
        |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_up,
        |  substring(p_type, 1, 6) AS type_pfx,
        |  length(p_name) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  round(abs(p_retailprice - 1000.0), 2) AS price_dist,
        |  p_size % 7 AS size_mod
        |FROM part
        |WHERE p_size >= 10
        |ORDER BY p_partkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_year, o_month""".stripMargin,

    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY ws, event_type""".stripMargin,

    "q_events_sessionize" ->
      """WITH gapped AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM gapped
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // Spark's session_window is half-open [start, start+gap): an event at
    // exactly prev_ts + gap starts a NEW session, so the oracle's
    // new-session predicate is >= 1800 (not > 1800).
    "q_events_session_window" ->
      """WITH gapped AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM gapped)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_type, count(*) AS n_events,
        |  min(k) AS min_k, max(k) AS max_k, round(avg(k), 6) AS avg_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_seqfile_compact" ->
      """SELECT o_orderkey % 3 AS key_mod, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_orderkey <= 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_seqfile_keyrange" ->
      """WITH hi AS (SELECT max(l_orderkey) AS h FROM lineitem)
        |SELECT l_orderkey % 5 AS key_mod, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem, hi
        |WHERE l_orderkey > h - (h // 10) OR l_orderkey <= 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_seqfile_bloom" ->
      """SELECT l_orderkey AS key, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (1, 3, 7, 32, 33, 1000000007)
        |GROUP BY 1
        |ORDER BY key""".stripMargin,

    "q_seqfile_roundtrip" ->
      """SELECT l_orderkey % 10 AS key_mod, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY key_mod""".stripMargin,

    "q_seqfile_partitioned" ->
      """SELECT l_orderkey % 7 AS key_mod, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_returnflag = 'R'
        |GROUP BY 1
        |ORDER BY key_mod""".stripMargin,

    // the SAME exact-dedup logic over the parquet original: normalized
    // key groups (the q_dedup_exact string-key equivalence of the
    // fingerprint hash), global min-id representative per group summed
    // over each source's distinct groups
    "q_seqfile_pipeline" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM documents WHERE source IN ('src1', 'src7', 'src13')),
        |gl AS (SELECT k, min(doc_id) AS rep FROM f GROUP BY k),
        |g AS (SELECT source, k, count(*) AS n FROM f GROUP BY 1, 2)
        |SELECT g.source, CAST(sum(g.n) AS BIGINT) AS n_docs,
        |  count(*) AS n_unique,
        |  CAST(sum(g.n) - count(*) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(gl.rep) AS BIGINT) AS rep_id_sum
        |FROM g JOIN gl USING (k)
        |GROUP BY g.source ORDER BY g.source""".stripMargin,

    "q_like_filter" ->
      """SELECT p_brand, count(*) AS n, round(avg(p_retailprice), 2) AS avg_price
        |FROM part
        |WHERE p_name LIKE '%a%' AND p_type NOT LIKE '%STEEL%'
        |  AND p_brand LIKE 'Brand%'
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q_conditional_agg" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_big,
        |  round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS avg_f_price,
        |  round(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN o_totalprice ELSE 0 END), 2) AS recent_total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_outer_join" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  count(l_orderkey) AS n_li_rows,
        |  count(DISTINCT CASE WHEN l_orderkey IS NULL THEN o_orderkey END) AS n_unmatched
        |FROM orders
        |LEFT JOIN (SELECT * FROM lineitem WHERE l_shipdate > TIMESTAMP '2001-06-01') li
        |  ON o_orderkey = li.l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_having" ->
      """SELECT l_suppkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_suppkey
        |HAVING round(sum(l_extendedprice * (1 - l_discount)), 2) > 2000000
        |ORDER BY l_suppkey""".stripMargin,

    "q_unpivot" ->
      """SELECT metric, count(*) AS n, round(avg(value), 4) AS avg_value FROM (
        |  SELECT 'size' AS metric, p_size * 1.0 AS value FROM part
        |  UNION ALL SELECT 'price' AS metric, p_retailprice AS value FROM part)
        |GROUP BY metric
        |ORDER BY metric""".stripMargin,

    "q_setops_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_pivot" ->
      """SELECT l_linestatus,
        |  round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        |  round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q_string_agg" ->
      """SELECT n_name, count(*) AS n_supp,
        |  string_agg(s_name, ',' ORDER BY s_name) AS supp_list
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS price_p25
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_array_positions" ->
      """WITH ex AS (
        |  SELECT unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings)
        |SELECT i - 1 AS pos, count(*) AS n, round(avg(v), 6) AS avg_v
        |FROM ex
        |GROUP BY 1
        |ORDER BY pos""".stripMargin,

    "q_asof_attribution" ->
      """SELECT p.event_id, p.user_id, v.event_id AS v_event_id,
        |  round(date_diff('microsecond', v.ts, p.ts) / 1000000.0, 3) AS gap_sec
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type IN ('click', 'view')) v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_range_join" ->
      """SELECT p.event_id, count(*) AS n_nearby
        |FROM events p JOIN events e
        |  ON abs(date_diff('microsecond', e.ts, p.ts)) <= 300000000
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id
        |ORDER BY p.event_id""".stripMargin,

    "q_dedup_keepbest" ->
      """WITH g AS (
        |  SELECT doc_id, source, text,
        |    row_number() OVER (
        |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |      ORDER BY strlen(text) DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_reps,
        |  sum(doc_id)::BIGINT AS id_sum,
        |  sum(strlen(text))::BIGINT AS len_sum
        |FROM g WHERE rn = 1
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_unique,
        |  count(*) - count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_dup_docs
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // Cross-set (batch vs corpus) exact Jaccard replica of the incremental
    // MinHash pipeline; same shingle construction as the Jaccard oracle.
    "q_dedup_incremental_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS ix
        |  FROM sh b JOIN sh c ON b.s = c.s
        |  WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        |  GROUP BY 1, 2)
        |SELECT batch_id, corpus_id, round(ix / (sa.n + sb.n - ix), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = batch_id
        |JOIN sizes sb ON sb.doc_id = corpus_id
        |WHERE ix / (sa.n + sb.n - ix) >= 0.8
        |ORDER BY batch_id, corpus_id""".stripMargin,

    // Closed-form resize replica: synthesizeMedia image dims/colors are
    // pure arithmetic in doc_id; a solid's channel means are invariant
    // under nearest-neighbor resample.
    "q_multimodal_resize" ->
      """WITH img AS (
        |  SELECT doc_id AS media_id,
        |    16 + (doc_id % 8) * 8 AS w,
        |    16 + (doc_id % 4) * 8 AS h,
        |    (doc_id * 3) % 256 AS r, (doc_id * 5) % 256 AS g, (doc_id * 7) % 256 AS b
        |  FROM documents WHERE doc_id % 3 = 0),
        |sc AS (SELECT media_id, w, h, r, g, b,
        |  least(24.0 / w, 24.0 / h, 1.0) AS scale FROM img)
        |SELECT media_id,
        |  CAST(greatest(floor(w * scale), 1) AS INTEGER) AS out_width,
        |  CAST(greatest(floor(h * scale), 1) AS INTEGER) AS out_height,
        |  round(CAST(r AS DOUBLE), 3) AS mean_r,
        |  round(CAST(g AS DOUBLE), 3) AS mean_g,
        |  round(CAST(b AS DOUBLE), 3) AS mean_b
        |FROM sc ORDER BY media_id""".stripMargin,

    // Closed-form frame-sampling replica: nf = 2 + id%4 frames, stride 2,
    // each solid gray (id*5+frame)%256 at 16x16.
    "q_multimodal_frames" ->
      """WITH vid AS (
        |  SELECT doc_id AS media_id, 2 + (doc_id % 4) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT media_id, CAST(i AS INTEGER) AS frame_idx
        |  FROM vid, unnest(range(0, nf, 2)) AS t(i))
        |SELECT media_id, frame_idx,
        |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  round(CAST((media_id * 5 + frame_idx) % 256 AS DOUBLE), 3) AS gray
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin,

    // Incremental dedup replica: normalized-text membership instead of the
    // fingerprint index (identical output modulo 2^-64 hash collisions).
    "q_dedup_incremental" ->
      """WITH inj AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.doc_id % 7 = 1 AND d.text IS NOT NULL
        |      THEN d.text ELSE b.text END AS text
        |  FROM documents b LEFT JOIN documents d ON d.doc_id = b.doc_id - 1
        |  WHERE b.doc_id % 2 = 1),
        |corpus AS (
        |  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM documents WHERE doc_id % 2 = 0),
        |batch AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM inj),
        |rep AS (SELECT k, min(doc_id) AS rep_id FROM batch GROUP BY k)
        |SELECT b.doc_id,
        |  CAST(c.k IS NOT NULL AS INT) AS in_corpus,
        |  CAST(c.k IS NULL AND b.doc_id = r.rep_id AS INT) AS is_new
        |FROM batch b
        |LEFT JOIN corpus c ON b.k = c.k
        |JOIN rep r ON b.k = r.k
        |ORDER BY b.doc_id""".stripMargin,

    // String-join replica of the hash-join decontamination report; same
    // shingle construction as the Jaccard oracle.
    "q_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)),
        |ovl AS (
        |  SELECT d.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS overlap
        |  FROM sh d JOIN sh b ON d.s = b.s
        |  WHERE b.doc_id % 97 = 0 AND d.doc_id % 97 <> 0
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bench_hits, max(overlap) AS max_overlap
        |  FROM ovl GROUP BY doc_id),
        |worst AS (
        |  SELECT o.doc_id, min(o.bench_id) AS worst_bench_id
        |  FROM ovl o JOIN agg a ON o.doc_id = a.doc_id AND o.overlap = a.max_overlap
        |  GROUP BY o.doc_id)
        |SELECT a.doc_id, n_bench_hits, max_overlap, worst_bench_id
        |FROM agg a JOIN worst w ON a.doc_id = w.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // Line-level boilerplate removal with the same deterministic newline /
    // boilerplate injection as the Spark side; lines in more than 10
    // distinct docs (normalized lower+trim) are dropped, the rest
    // reassembled in order.
    "q_line_dedup" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter' || chr(10) ELSE '' END)
        |    || regexp_replace(text, ' table ', chr(10), 'g')
        |    || (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'All rights reserved' ELSE '' END) AS t
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS L FROM inj),
        |lp AS (
        |  SELECT doc_id, i, L[i] AS line
        |  FROM ls, unnest(range(1, len(L) + 1)) AS u(i)),
        |freq AS (
        |  SELECT lower(trim(line)) AS k
        |  FROM lp WHERE length(trim(line)) > 0
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 10),
        |kept AS (
        |  SELECT doc_id, i, line FROM lp
        |  WHERE lower(trim(line)) NOT IN (SELECT k FROM freq)),
        |reb AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT ls.doc_id, CAST(len(L) AS BIGINT) AS n_lines,
        |  CAST(len(L) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        |  CAST(length(coalesce(clean, '')) AS BIGINT) AS clean_len
        |FROM ls LEFT JOIN reb ON ls.doc_id = reb.doc_id
        |ORDER BY ls.doc_id""".stripMargin,

    "q_dedup_ngram" -> SparkEntryOracles.ngramJaccardPairsSql,
    "q_dedup_ngram_prefix" -> SparkEntryOracles.ngramJaccardPairsSql,
    // MinHash+LSH is exact-verified with P(miss | j>=0.8) ~ 1e-5, so it
    // shares the exact-Jaccard oracle.
    "q_dedup_minhash" -> SparkEntryOracles.ngramJaccardPairsSql,
    // the streamed union of per-batch pair outputs equals one full-corpus
    // LSH run exactly (signatures are pure functions of text), so the
    // batch-mode Jaccard oracle certifies the streaming ingestion loop
    "q_dedup_stream" -> SparkEntryOracles.ngramJaccardPairsSql,
    "q_dedup_clusters" -> SparkEntryOracles.dedupClustersSql,
    "q_dedup_cluster_keepbest" -> SparkEntryOracles.dedupClusterKeepBestSql,
    "q_split_leakage" -> SparkEntryOracles.splitLeakageSql,

    // same md5-of-key ranking as the operator (DuckDB md5 = lowercase hex
    // like Spark's)
    "q_group_exemplars" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS exemplar_rank
        |  FROM documents)
        |SELECT source, doc_id, exemplar_rank
        |FROM ranked WHERE exemplar_rank <= 3
        |ORDER BY source, exemplar_rank""".stripMargin,

    // Bigram surprisal replica: <s> begin context, self-trained (every
    // scored bigram seen >= once, no smoothing), -log2(c(prev,cur)/c(prev))
    // averaged per doc; docs with no tokens -> 0. The operator joins on
    // pair hashes; the oracle joins on the string pair — exact modulo
    // ~2^-64 collisions (space-joined keys, tokens cannot contain spaces).
    "q_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS prev, w[i] AS cur
        |  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)
        |  WHERE len(w) > 0),
        |bc AS (SELECT prev, cur, count(*) AS c FROM bi GROUP BY 1, 2),
        |pc AS (SELECT prev, count(*) AS pcnt FROM bi GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, -log2(c * 1.0 / pcnt) AS s
        |  FROM bi JOIN bc USING (prev, cur) JOIN pc USING (prev)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams, round(avg(s), 4) AS surprisal
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(surprisal, 0.0) AS surprisal
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Cluster-profile replica: identical centroid pick / assignment /
    // cosine arithmetic as the q_ann_ivf oracle, then per-cluster label
    // histogram -> majority (count DESC, label ASC), purity, avg cosine.
    "q_cluster_purity" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn
        |  FROM v
        |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
        |  LIMIT 16),
        |assign AS (
        |  SELECT c_id, cent_id, csim FROM (
        |    SELECT v.vec_id AS c_id, cent_id,
        |      list_dot_product(v.v, cv) / (v.nrm * cn) AS csim,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY list_dot_product(v.v, cv) / (v.nrm * cn) DESC, cent_id) AS crank
        |    FROM v CROSS JOIN cents)
        |  WHERE crank = 1),
        |j AS (
        |  SELECT a.cent_id, a.c_id, a.csim, e.label
        |  FROM assign a JOIN embeddings e ON a.c_id = e.vec_id),
        |pl AS (SELECT cent_id, label, count(*) AS n_lbl FROM j GROUP BY 1, 2),
        |mj AS (
        |  SELECT cent_id, label AS majority_label, n_lbl AS n_major FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cent_id
        |      ORDER BY n_lbl DESC, label) AS lr FROM pl)
        |  WHERE lr = 1),
        |sz AS (
        |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_members,
        |    round(avg(csim), 4) AS avg_cos
        |  FROM j GROUP BY 1)
        |SELECT s.cent_id, n_members, majority_label,
        |  round(n_major * 1.0 / n_members, 4) AS purity, avg_cos
        |FROM sz s JOIN mj USING (cent_id) ORDER BY cent_id""".stripMargin,

    // Temperature mixing replica: same pow/sum/div operand order as the
    // operator so the doubles agree bit-for-bit before the 6dp round.
    "q_mixture_weights" ->
      """WITH t AS (
        |  SELECT source,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0)) AS toks
        |  FROM documents),
        |a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY 1),
        |z AS (SELECT sum(pow(n_tokens, 0.3)) AS zz,
        |  CAST(sum(n_tokens) AS BIGINT) AS tot FROM a)
        |SELECT source, n_items, n_tokens,
        |  round(pow(n_tokens, 0.3) / zz, 6) AS weight,
        |  round(tot * pow(n_tokens, 0.3) / zz / n_tokens, 6) AS eff_epochs
        |FROM a, z ORDER BY source""".stripMargin,

    "q_token_budget" -> SparkEntryOracles.tokenBudgetSql,

    "q_zorder_cells" -> SparkEntryOracles.zorderCellsSql,

    "q_blocklist_substr" -> SparkEntryOracles.substrBlocklistSql,

    "q_pagerank" -> SparkEntryOracles.pagerankSql,

    "q_pagerank_personalized" -> SparkEntryOracles.pagerankPersonalizedSql,

    // fuzzy-join replica: same first-token blocks, DuckDB's own
    // jaro_winkler_similarity — pins our kernel to the reference
    // implementation value-for-value
    "q_fuzzy_join" ->
      """WITH p AS (
        |  SELECT p_partkey AS id, p_name AS s,
        |    lower(list_filter(string_split_regex(trim(p_name), '\s+'),
        |      x -> length(x) > 0)[1]) AS k
        |  FROM part WHERE p_partkey < 2000)
        |SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS sim
        |FROM p a JOIN p b ON a.k = b.k AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // sorted-neighborhood replica: one global row_number (the oracle CAN
    // afford the serial window), band join within 10 positions, same JW
    "q_fuzzy_neighborhood" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s FROM part),
        |r AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rn FROM p),
        |c AS (
        |  SELECT a.id AS ia, b.id AS ib, a.s AS sa, b.s AS sb
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 10)
        |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
        |  CASE WHEN ia < ib THEN sa ELSE sb END AS s_a,
        |  CASE WHEN ia < ib THEN sb ELSE sa END AS s_b,
        |  round(jaro_winkler_similarity(sa, sb), 6) AS sim
        |FROM c WHERE jaro_winkler_similarity(sa, sb) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // collocation replica: same tokenizer, adjacent pairs via positional
    // subscripts, identical PMI arithmetic rounded 6dp
    "q_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT w[CAST(i AS INTEGER)] AS a, w[CAST(i AS INTEGER) + 1] AS b
        |  FROM toks, unnest(range(1, len(w))) AS u(i)
        |  WHERE len(w) >= 2),
        |pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg
        |       GROUP BY 1, 2 HAVING count(*) >= 5),
        |uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c_t
        |       FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c_t) FROM uc) * 1.0 AS n_tokens,
        |               (SELECT count(*) FROM bg) * 1.0 AS n_bigrams)
        |SELECT a, b, c_ab, ca.c_t AS c_a, cb.c_t AS c_b,
        |  round(log2((c_ab / n_bigrams) /
        |    ((ca.c_t / n_tokens) * (cb.c_t / n_tokens))), 6) AS pmi
        |FROM pc
        |JOIN uc ca ON pc.a = ca.t
        |JOIN uc cb ON pc.b = cb.t
        |CROSS JOIN tot
        |ORDER BY pmi DESC, a, b LIMIT 50""".stripMargin,

    // regression replica: same hour-origin x; both engines compute the
    // textbook least-squares moments, rounded to 6dp
    "q_regression" ->
      """SELECT event_type, count(*) AS n,
        |  round(regr_slope(value, x), 6) AS slope,
        |  round(regr_intercept(value, x), 6) AS intercept,
        |  round(regr_r2(value, x), 6) AS r2
        |FROM (SELECT event_type, value,
        |        (epoch_us(ts) - 1704067200000000) / 3600000000.0 AS x
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // retention replica: identical day-bucket arithmetic
    // (floor(epoch_us/86400e6)), distinct activity, min-cohort, offsets
    "q_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS p
        |  FROM events),
        |coh AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY 1),
        |sizes AS (SELECT cohort, count(*) AS cohort_size FROM coh GROUP BY 1),
        |o AS (
        |  SELECT coh.cohort, act.p - coh.cohort AS "offset",
        |    count(*) AS active_users
        |  FROM act JOIN coh USING (user_id)
        |  WHERE act.p - coh.cohort <= 10
        |  GROUP BY 1, 2)
        |SELECT o.cohort, o."offset", o.active_users, sizes.cohort_size,
        |  round(o.active_users * 1.0 / sizes.cohort_size, 6) AS retention
        |FROM o JOIN sizes USING (cohort)
        |ORDER BY cohort, "offset"""".stripMargin,

    // funnel replica: chained min-after-previous CTEs, same greedy
    // earliest-match semantics
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS ts_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS ts_2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.ts_1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS ts_3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2 GROUP BY 1)
        |SELECT s1.user_id, ts_1, ts_2, ts_3,
        |  CASE WHEN ts_3 IS NOT NULL THEN 3
        |       WHEN ts_2 IS NOT NULL THEN 2 ELSE 1 END AS steps_completed
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_funnel_conversion" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS ts_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS ts_2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.ts_1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS ts_3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2 GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM s1) AS n1,
        |             (SELECT count(*) FROM s2) AS n2,
        |             (SELECT count(*) FROM s3) AS n3)
        |SELECT step, step_name, users,
        |  round(users * 1.0 / n1, 6) AS conversion
        |FROM n, (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
        |  AS st(step, step_name),
        |LATERAL (SELECT CASE step WHEN 1 THEN n1 WHEN 2 THEN n2
        |                 ELSE n3 END AS users)
        |ORDER BY step""".stripMargin,

    // triangle replica: naive ordered triple join (a<b<c) over the same
    // thresholded co-supply edges — each triangle exactly once
    "q_triangles" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |e AS (
        |  SELECT a.sk AS lo, b.sk AS hi
        |  FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
        |  GROUP BY 1, 2 HAVING count(*) >= 140),
        |t AS (
        |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.lo = e1.hi
        |  JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
        |SELECT supplier, CAST(count(*) AS BIGINT) AS triangles
        |FROM (SELECT a AS supplier FROM t
        |      UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t)
        |GROUP BY supplier ORDER BY supplier""".stripMargin,

    // CCNet bucketing replica: the q_bigram_surprisal pipeline (coalesced
    // to 0 for token-less docs, rounded to 4dp BEFORE the percentile so
    // both engines cut on identical doubles), per-language interpolated
    // 30/70 percentile cutoffs (quantile_cont == Spark percentile), then
    // head/middle/tail by <= on the cutoffs.
    "q_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS prev, w[i] AS cur
        |  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)
        |  WHERE len(w) > 0),
        |bc AS (SELECT prev, cur, count(*) AS c FROM bi GROUP BY 1, 2),
        |pc AS (SELECT prev, count(*) AS pcnt FROM bi GROUP BY 1),
        |scoredbi AS (
        |  SELECT doc_id, -log2(c * 1.0 / pcnt) AS s
        |  FROM bi JOIN bc USING (prev, cur) JOIN pc USING (prev)),
        |aggd AS (
        |  SELECT doc_id, round(avg(s), 4) AS surprisal FROM scoredbi GROUP BY 1),
        |j AS (
        |  SELECT d.lang, d.doc_id, coalesce(a.surprisal, 0.0) AS surprisal
        |  FROM documents d LEFT JOIN aggd a USING (doc_id)),
        |cuts AS (
        |  SELECT lang, quantile_cont(surprisal, 0.3) AS c1,
        |    quantile_cont(surprisal, 0.7) AS c2
        |  FROM j GROUP BY 1),
        |b AS (
        |  SELECT j.lang,
        |    CASE WHEN surprisal <= c1 THEN 'head'
        |         WHEN surprisal <= c2 THEN 'middle'
        |         ELSE 'tail' END AS bucket, surprisal
        |  FROM j JOIN cuts USING (lang))
        |SELECT lang, bucket, count(*) AS n_docs,
        |  round(avg(surprisal), 4) AS avg_surprisal
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Unigram surprisal replica: same top-64 vocab (count DESC, token ASC),
    // OOV floor 1, -log2(count/total) averaged per doc.
    "q_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |total AS (SELECT sum(cnt) AS tot FROM counts),
        |vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 64),
        |scored AS (
        |  SELECT t.doc_id, -log2(coalesce(v.cnt, 1) / tot) AS s
        |  FROM toks t LEFT JOIN vocab v USING (tok) CROSS JOIN total),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens, round(avg(s), 4) AS surprisal
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
        |  coalesce(a.surprisal, 0.0) AS surprisal
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Token-window chunking replica: same normalized token lists, starts
    // 0,30,60,... (stride 30), 40-token 1-based inclusive slices.
    "q_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, w, CAST(s // 30 AS INTEGER) AS chunk_idx,
        |    CAST(s AS INTEGER) AS chunk_start,
        |    w[s + 1 : s + 40] AS chunk
        |  FROM toks, unnest(range(0, len(w), 30)) AS t(s))
        |SELECT doc_id, chunk_idx, chunk_start,
        |  CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
        |  CAST(length(array_to_string(chunk, ' ')) AS INTEGER) AS chunk_len
        |FROM st
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_dedup_embedding" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // LSH-bucketed + exact-verified: output provably equals all-pairs up to
    // P(miss) ~ 1.5e-9/pair, so it shares the exact-cosine oracle (same
    // relationship q_dedup_minhash has to the exact-Jaccard oracle).
    "q_dedup_embedding_lsh" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // production-point LSH gate: replicate the deterministic planting
    // (every 10th vector, +0.1 on component 1) and the exact all-pairs
    // cosine at threshold 0.9 — the LSH miss probability at the planted
    // margin (~1e-33) makes pruned output == exact output
    "q_dedup_embedding_lsh_prod" ->
      """WITH base AS (
        |  SELECT vec_id::BIGINT AS vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |aug AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_concat([v[1] + 0.1], v[2:64])
        |  FROM base WHERE vec_id % 10 = 0),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replica of semanticNeardupPairs: ivfTopK's deterministic
    // centroid pick (integer hash) + nearest-centroid assignment, then the
    // all-pairs cosine join restricted to same-cluster pairs.
    "q_dedup_semantic" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn
        |  FROM v
        |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
        |  LIMIT 8),
        |assign AS (
        |  SELECT id, vv, nr, cent_id FROM (
        |    SELECT v.vec_id AS id, v.v AS vv, v.nrm AS nr, cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY list_dot_product(v.v, cv) / (v.nrm * cn) DESC, cent_id) AS crank
        |    FROM v CROSS JOIN cents)
        |  WHERE crank = 1)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(list_dot_product(a.vv, b.vv) / (a.nr * b.nr), 6) AS cosine
        |FROM assign a JOIN assign b ON a.cent_id = b.cent_id AND a.id < b.id
        |WHERE list_dot_product(a.vv, b.vv) / (a.nr * b.nr) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_bruteforce" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 20),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, rank, round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // same deterministic centroids/assignment as q_dedup_semantic, then
    // an md5-ranked per-cell pick
    "q_diversity_sample" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn
        |  FROM v
        |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
        |  LIMIT 16),
        |assign AS (
        |  SELECT id, cent_id AS cell FROM (
        |    SELECT v.vec_id AS id, cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY list_dot_product(v.v, cv) / (v.nrm * cn) DESC, cent_id) AS crank
        |    FROM v CROSS JOIN cents)
        |  WHERE crank = 1)
        |SELECT id, cell, pick_rank FROM (
        |  SELECT id, cell,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY md5(CAST(id AS VARCHAR)), id) AS pick_rank
        |  FROM assign)
        |WHERE pick_rank <= 5
        |ORDER BY cell, pick_rank""".stripMargin,

    // NFC + C0/DEL/zero-width strip + whitespace collapse, step for step
    "q_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
        |    '[ \t\n\x0B\x0C\r]+', ' ', 'g')) AS norm_text
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Same synthesis + the same RE2-safe regex chain (no backreferences,
    // no lookarounds), entity decode in the same order, &amp; last.
    "q_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><script type="text/javascript">var id=' ||
        |    CAST(doc_id AS VARCHAR) ||
        |    ';track(id);</script><style>p{margin:0}</style></head><body><h1>Doc ' ||
        |    CAST(doc_id AS VARCHAR) || '</h1><!-- auto --><p>' || text ||
        |    ' &amp; more</p></body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          replace(replace(replace(replace(replace(replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(
        |                    regexp_replace(html,
        |                      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |                    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |                  '(?s)<!--.*?-->', ' ', 'g'),
        |                '(?i)<(br|/p|/div|/li|/tr|/h[1-6])[^>]*>', chr(10), 'g'),
        |              '<[^>]+>', ' ', 'g'),
        |            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |            '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |          '[ \t\r]+', ' ', 'g'),
        |        ' ?\n ?', chr(10), 'g'),
        |      '\n+', chr(10), 'g'), ' ' || chr(10)) AS ex
        |  FROM h)
        |SELECT doc_id, length(ex) AS n_chars, md5(ex) AS text_md5
        |FROM x ORDER BY doc_id""".stripMargin,

    // decode(encode(text)) must equal the whitespace/case-normalized text
    "q_bpe_roundtrip" ->
      """SELECT doc_id,
        |  array_to_string(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''),
        |    ' ') AS text_rt
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // bruteforce replica with the positive-exclusion filter BEFORE ranking
    "q_hard_negatives" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 20),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored WHERE cos < 0.35)
        |SELECT q_id, n_id, rank, round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // bit-exact hyperplane-LSH replica (plane hash via decomposed HUGEINT
    // wrap-multiply; sequential-fold dots) — see SparkEntryOracles.annLshSql
    "q_ann_lsh" -> SparkEntryOracles.annLshSql,
    // index-served LSH returns exactly what from-scratch lshTopK returns
    // (signatures are pure functions of the vector; parquet round-trips
    // doubles exactly) — one oracle certifies both serve paths
    "q_ann_lsh_index" -> SparkEntryOracles.annLshSql,
    // incremental ingest serves EXACTLY the from-scratch result (pure
    // per-vector signatures), so the same full-corpus replay certifies it
    "q_ann_lsh_index_incremental" -> SparkEntryOracles.annLshSql,
    // tombstone delete == from-scratch over the surviving corpus: the
    // same replay with the deletion predicate on its one corpus CTE
    "q_ann_lsh_index_delete" -> SparkEntryOracles.annLshSqlOver(
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // filtered serves (family × filtered closure): the one corpus CTE
    // carries the same metadata predicate the engine's allowed-id
    // semi-join applies — see q_ann_ivfpq_filtered
    "q_ann_lsh_filtered" -> SparkEntryOracles.annLshSqlOver(
      "vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"),
    "q_ann_pq_filtered" -> SparkEntryOracles.annPqSqlOver(
      "q_ann_pq_filtered",
      "vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"),
    // bands-only serving rebinds the vectors half to the corpus parquet
    // with the same cast-at-read prep the ingest applies — identical
    // candidates, scores, ranks, so the same from-scratch replay holds
    "q_ann_lsh_index_bandsonly" -> SparkEntryOracles.annLshSql,
    // streaming ingest lands each micro-batch via the same pure
    // per-vector signature kernel — the streamed index serves exactly
    // the from-scratch result, so the same full-corpus replay certifies it
    "q_ann_lsh_index_stream" -> SparkEntryOracles.annLshSql,
    // physical purge rewrites the masked survivors — serve equality with
    // the masked index means the SAME deletion-predicate replay certifies
    // it (signatures are pure per-vector functions; a rewrite can't
    // change them)
    "q_ann_lsh_index_purge" -> SparkEntryOracles.annLshSqlOver(
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),

    // bit-exact FNV-1a + fmix64 replicas (same HUGEINT wrap-multiply
    // technique): simhash signatures and the Count-Min sketch are both
    // deterministic functions of the token multiset
    "q_dedup_simhash" -> SparkEntryOracles.simhashPairsSql,
    "q_sketch_tokens" -> SparkEntryOracles.cmsTokensSql,

    // bit-exact BPE replicas: a recursive CTE's working table is one
    // training round (pair argmax + greedy merge via boundary-safe
    // tab-separated replace); encode reads the recursion's final state
    "q_bpe_merges" -> SparkEntryOracles.bpeMergesSql,
    "q_bpe_merges_256" -> SparkEntryOracles.bpeMerges256Sql,
    "q_bpe_encode" -> SparkEntryOracles.bpeEncodeSql,

    // byte-level tier (GPT-2 formulation): the same recursion over the
    // lowercase-hex byte alphabet; roundtrip re-assembles via unhex
    "q_bpe_merges_bytes" -> SparkEntryOracles.bpeMergesBytesSql,
    "q_bpe_encode_bytes" -> SparkEntryOracles.bpeEncodeBytesSql,
    "q_bpe_roundtrip_bytes" ->
      """SELECT doc_id,
        |  array_to_string(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''),
        |    ' ') AS text_rt
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // closed-form Naive Bayes quality scorer: exact counts -> full replica
    "q_quality_nb" -> SparkEntryOracles.qualityNbSql,

    // Exact replica of ivfTopK's deterministic pipeline: centroids are the
    // 16 vectors with the smallest multiplicative id-hash
    // ((id mod 2^31)*2654435761 mod 2^32, ties by id — pure integer
    // arithmetic both engines compute identically without 64-bit overflow
    // at any id scale; distributed top-C on the Spark side),
    // nearest-centroid assignment, nProbe=4 probing, top-10 per query.
    // Dot products are sequential double folds on both engines, so ranking
    // and rounded cosines agree bit-for-bit (same as q_ann_bruteforce).
    "q_ann_ivf" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn
        |  FROM v
        |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
        |  LIMIT 16),
        |assign AS (
        |  SELECT c_id, c_v, c_n, cent_id FROM (
        |    SELECT v.vec_id AS c_id, v.v AS c_v, v.nrm AS c_n, cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY list_dot_product(v.v, cv) / (v.nrm * cn) DESC, cent_id) AS crank
        |    FROM v CROSS JOIN cents)
        |  WHERE crank = 1),
        |probes AS (
        |  SELECT q_id, q_v, q_n, cent_id FROM (
        |    SELECT q.vec_id AS q_id, q.v AS q_v, q.nrm AS q_n, cent_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.v, cv) / (q.nrm * cn) DESC, cent_id) AS crank
        |    FROM v q CROSS JOIN cents
        |    WHERE q.vec_id < 20)
        |  WHERE crank <= 4),
        |scored AS (
        |  SELECT q_id, c_id, list_dot_product(q_v, c_v) / (q_n * c_n) AS cos
        |  FROM probes JOIN assign USING (cent_id)
        |  WHERE q_id <> c_id),
        |ranked AS (
        |  SELECT q_id, c_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        |  FROM scored)
        |SELECT q_id, c_id AS n_id, rank, round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // ANN split gates: the gate froze its trained codebooks/centroids
    // under /tmp/graft_frozen (hive n=<corpus count> partition); these
    // replay the deterministic serve half — encode/assign/probe/ADC/
    // re-rank — from the frozen frames (SparkEntryOracles.annPqSql etc.).
    "q_ann_pq" -> SparkEntryOracles.annPqSql("q_ann_pq"),
    "q_ann_pq_index" -> SparkEntryOracles.annPqSql("q_ann_pq_index"),
    // tombstone delete == ADC serve over the surviving corpus with the
    // SAME frozen codebooks (deletion never retrains the quantizer)
    "q_ann_pq_index_delete" -> SparkEntryOracles.annPqSqlOver(
      "q_ann_pq_index_delete",
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // physical purge rewrites the masked index into a tombstone-free
    // root: the purged serve must equal the masked serve, so the SAME
    // deletion-predicate replay certifies it
    "q_ann_pq_index_purge" -> SparkEntryOracles.annPqSqlOver(
      "q_ann_pq_index_purge",
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // incremental ingest == from-scratch encode of the full corpus under
    // the frozen quantizer (codes are pure per-vector functions of it),
    // so the standard full-corpus ADC replay certifies the appended index
    "q_ann_pq_index_incremental" ->
      SparkEntryOracles.annPqSql("q_ann_pq_index_incremental"),
    // streamed micro-batches encode against the frozen codebooks — same
    // pure-function argument as the incremental gate, same ADC replay
    "q_ann_pq_index_stream" ->
      SparkEntryOracles.annPqSql("q_ann_pq_index_stream"),
    // flat-PQ OPQ lifecycle: the rotated-space flat ADC replay — codes
    // (standing AND streamed) are pure per-vector functions of the
    // frozen rotation + codebook pair
    "q_ann_pq_opq_index" ->
      SparkEntryOracles.annPqOpqSql("q_ann_pq_opq_index"),
    // SQ8 gates: NO frozen frame — the per-dim min/max quantizer is
    // re-derived from scratch (statsWhere scopes the build corpus),
    // codes replayed by argmin, ADC + re-rank shared with the PQ replay
    "q_ann_sq8_index" -> SparkEntryOracles.annSqSqlOver(""),
    "q_ann_sq8_index_delete" -> SparkEntryOracles.annSqSqlOver(
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // ranges trained on the standing evens, serve over the full corpus
    "q_ann_sq8_index_incremental" -> SparkEntryOracles.annSqSqlOver(
      "", statsWhere = "vec_id % 2 = 0"),
    // streamed ingest is the incremental append run from micro-batches:
    // the SAME standing-trained replay certifies it (ranges train on the
    // evens, streamed codes are pure per-vector functions of them)
    "q_ann_sq8_index_stream" -> SparkEntryOracles.annSqSqlOver(
      "", statsWhere = "vec_id % 2 = 0"),
    // purge == masked serve, so the delete replay certifies it (ranges
    // from the FULL build corpus; deletion predicate on the serving CTE)
    "q_ann_sq8_index_purge" -> SparkEntryOracles.annSqSqlOver(
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    "q_ann_ivfpq" -> SparkEntryOracles.annIvfPqSql,
    // persisted / appended IVF-PQ serve exactly what the from-scratch
    // replay derives from the frozen centroid+codebook pair (assignment
    // and code are pure per-vector functions of it; parquet round-trips
    // doubles exactly)
    "q_ann_ivfpq_index" ->
      SparkEntryOracles.annIvfPqSqlOver("q_ann_ivfpq_index", ""),
    "q_ann_ivfpq_index_incremental" ->
      SparkEntryOracles.annIvfPqSqlOver("q_ann_ivfpq_index_incremental", ""),
    // tombstone delete == the same replay over the surviving corpus (the
    // deletion predicate on its one corpus CTE); quantizers stay frozen
    // by-residual encoding: the extended replay subtracts the frozen
    // assigned centroid in the encode CTE and adds the per-list ADC
    // cross terms — still value-exact, only the k-means pair freezes
    "q_ann_ivfpq_residual_index" -> SparkEntryOracles.annIvfPqResidualSqlOver(
      "q_ann_ivfpq_residual_index", ""),
    // hierarchical coarse training: the replay depends only on the
    // FROZEN centroid frame, so the residual oracle applies verbatim
    "q_ann_ivfpq_hier_index" -> SparkEntryOracles.annIvfPqResidualSqlOver(
      "q_ann_ivfpq_hier_index", ""),
    // OPQ pre-transform: the same residual replay run entirely in
    // rotated space — the corpus CTE rotates each vector against the
    // gate's frozen rotation frame (list_dot_product == matVec fold)
    "q_ann_ivfpq_opq_index" -> SparkEntryOracles.annIvfPqOpqSqlOver(
      "q_ann_ivfpq_opq_index", ""),
    // OPQ first-class lifecycle: rotation persisted in the root, applied
    // automatically to streamed batches and raw queries — streamed codes
    // are pure per-vector functions of the frozen rotation + quantizer
    // pair, so the same rotated-space replay certifies the whole chain
    "q_ann_ivfpq_opq_lifecycle" -> SparkEntryOracles.annIvfPqOpqSqlOver(
      "q_ann_ivfpq_opq_lifecycle", ""),
    // residual STREAMING ingest: streamed micro-batches encode residuals
    // against the frozen pair (the persisted by_residual flag decides),
    // so the full-corpus residual replay certifies the streamed index —
    // the same pure-function argument as every stream gate
    "q_ann_ivfpq_index_stream" -> SparkEntryOracles.annIvfPqResidualSqlOver(
      "q_ann_ivfpq_index_stream", ""),
    // residual incremental append + tombstone delete in one lifecycle:
    // the residual replay over the surviving corpus (deletion predicate
    // on its one corpus CTE); appended codes are pure per-vector
    // functions of the frozen pair + flag, so ingest order is invisible
    "q_ann_ivfpq_residual_lifecycle" ->
      SparkEntryOracles.annIvfPqResidualSqlOver(
        "q_ann_ivfpq_residual_lifecycle",
        s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // physical purge rewrites the masked residual index into a fresh
    // tombstone-free root; purged serve == masked serve, so the SAME
    // deletion-predicate residual replay certifies it
    "q_ann_ivfpq_index_purge" -> SparkEntryOracles.annIvfPqResidualSqlOver(
      "q_ann_ivfpq_index_purge",
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // filtered serve: the replay's one corpus CTE carries the same
    // metadata predicate the engine's allowed-id semi-join applies —
    // queries (id < maxQueries over the filtered v) and candidates both
    // live in the English slice, and the frozen frames are the FULL-
    // corpus build's
    "q_ann_ivfpq_filtered" -> SparkEntryOracles.annIvfPqResidualSqlOver(
      "q_ann_ivfpq_filtered",
      "vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"),
    "q_ann_ivfpq_range" -> SparkEntryOracles.annIvfPqRangeSql,
    // merged shard roots serve exactly what one root whose codes were
    // all encoded against the same frozen frame serves — the replay is
    // the incremental gate's, under this gate's own frames
    "q_ann_ivfpq_merge" -> SparkEntryOracles.annIvfPqResidualSqlOver(
      "q_ann_ivfpq_merge", ""),
    "q_ann_ivfpq_index_delete" -> SparkEntryOracles.annIvfPqSqlOver(
      "q_ann_ivfpq_index_delete",
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // IVF-SQ8: frozen k-means centroids bound the probes; the scalar
    // quantizer itself is re-derived from scratch in the replay
    "q_ann_ivfsq_index" ->
      SparkEntryOracles.annIvfSqSqlOver("q_ann_ivfsq_index", ""),
    "q_ann_ivfsq_index_delete" -> SparkEntryOracles.annIvfSqSqlOver(
      "q_ann_ivfsq_index_delete",
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    // incremental: ranges trained on the standing evens (statsWhere),
    // centroids frozen from the gate's standing-trained k-means, serve
    // over the full corpus — codes are pure per-vector functions of the
    // frozen pair, so from-scratch replay == appended index
    "q_ann_ivfsq_index_incremental" -> SparkEntryOracles.annIvfSqSqlOver(
      "q_ann_ivfsq_index_incremental", "", statsWhere = "vec_id % 2 = 0"),
    // streamed ingest is the incremental append run from micro-batches:
    // the SAME standing-trained replay certifies it (quantizers train on
    // the evens, streamed codes are pure per-vector functions of them)
    "q_ann_ivfsq_index_stream" -> SparkEntryOracles.annIvfSqSqlOver(
      "q_ann_ivfsq_index_stream", "", statsWhere = "vec_id % 2 = 0"),
    // purge == masked serve under the split replay (centroids frozen,
    // scalar half from scratch; deletion predicate on the serving CTE)
    "q_ann_ivfsq_index_purge" -> SparkEntryOracles.annIvfSqSqlOver(
      "q_ann_ivfsq_index_purge",
      s"NOT (vec_id % 2 = 1 AND vec_id >= ${graft.operators.AnnConfig.maxQueries})"),
    "q_ann_ivf_kmeans" -> SparkEntryOracles.annIvfKMeansSql,

    "q_pack_sequences" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM w)
        |SELECT cum_before // 1000 AS bin, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin,

    // the per-stage recipes composed as one CTE chain; per-doc lineage
    "q_pipeline_e2e" -> SparkEntryOracles.pipelineE2eSql,

    "q_pipeline_stream" -> SparkEntryOracles.pipelineStreamSql,

    "q_shard_assign" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rn
        |  FROM documents)
        |SELECT CAST(rn % 8 AS INTEGER) AS shard, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  max(rn // 8) AS max_pos
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,

    "q_pii_scrub" ->
      """WITH inj AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |    WHEN doc_id % 7 = 3
        |      THEN text || ' see https://example.org/d/' || CAST(doc_id AS VARCHAR) || ' for details'
        |    ELSE text END AS t2
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |    len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_em,
        |    len(regexp_extract_all(t2, 'https?://[A-Za-z0-9./_%?=&#~@:-]+')) AS n_url,
        |    length(regexp_replace(
        |      regexp_replace(t2, 'https?://[A-Za-z0-9./_%?=&#~@:-]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS clean_len
        |  FROM inj)
        |SELECT source, count(CASE WHEN n_em + n_url > 0 THEN 1 END) AS n_pii_docs,
        |  CAST(sum(n_em) AS BIGINT) AS n_emails,
        |  CAST(sum(n_url) AS BIGINT) AS n_urls,
        |  CAST(sum(clean_len) AS BIGINT) AS clean_len_sum
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q_doc_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        |sized AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM base),
        |tc AS (
        |  SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, count(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS tok FROM sized)
        |    GROUP BY doc_id, tok)
        |  GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  round(coalesce(tc.top_c, 0) * 1.0 / greatest(s.n_tokens, 1), 4) AS top_token_frac,
        |  round(CASE WHEN s.n_tokens > 1 THEN
        |      1.0 - len(list_distinct(list_transform(range(1, s.n_tokens),
        |        i -> toks[i] || ' ' || toks[i + 1]))) * 1.0 / (s.n_tokens - 1)
        |    ELSE 0.0 END, 4) AS dup_bigram_frac
        |FROM sized s LEFT JOIN tc ON s.doc_id = tc.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS n_tokens,
        |  round(coalesce(list_sum(list_transform(
        |      list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0),
        |      x -> length(x))), 0)
        |    / greatest(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)), 1), 4) AS avg_tok_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // distinct-trigram containment both directions; pairs where either
    // clears 0.6 (operator hashes shingles; exact modulo ~2^-64)
    "q_dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(ix * 1.0 / sa.n, 6) AS cont_a_in_b,
        |  round(ix * 1.0 / sb.n, 6) AS cont_b_in_a
        |FROM inter
        |JOIN sizes sa ON id_a = sa.doc_id
        |JOIN sizes sb ON id_b = sb.doc_id
        |WHERE greatest(ix * 1.0 / sa.n, ix * 1.0 / sb.n) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    // 6-token windows as strings (operator hashes them; exact modulo
    // ~2^-64 collisions); df cap 2..64 replicated in okw
    // Span-removal replica: window strings join directly (vs the 8-byte
    // hash on the Spark side — exact modulo ~2^-64); 1-based slice i
    // covers tokens i..i+5; cleaned stream re-joined in position order.
    "q_dedup_span_removal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS pos, array_to_string(w[i:i+5], ' ') AS s
        |  FROM toks, unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS t(i)),
        |dup AS (
        |  SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) AS df FROM wins GROUP BY s)
        |  WHERE df >= 2),
        |starts AS (SELECT doc_id, pos FROM wins WHERE s IN (SELECT s FROM dup)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + d AS cp
        |  FROM starts, unnest(range(0, 6)) AS t(d)),
        |tok AS (
        |  SELECT doc_id, i AS pos, w[i] AS tokn
        |  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tokn FROM tok t
        |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cp
        |  WHERE c.doc_id IS NULL),
        |stats AS (SELECT doc_id, len(w) AS n_tokens FROM toks),
        |agg AS (
        |  SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
        |    CAST(s.n_tokens - count(k.pos) AS BIGINT) AS n_removed,
        |    md5(coalesce(string_agg(k.tokn, ' ' ORDER BY k.pos), '')) AS clean_md5
        |  FROM stats s LEFT JOIN kept k USING (doc_id)
        |  GROUP BY s.doc_id, s.n_tokens)
        |SELECT doc_id, n_tokens, n_removed, clean_md5 FROM agg
        |WHERE n_removed > 0 ORDER BY doc_id""".stripMargin,

    "q_dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+5], ' ') AS s
        |  FROM toks, unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS t(i)),
        |okw AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 64),
        |k AS (SELECT sh.doc_id, sh.s FROM sh JOIN okw USING (s))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_windows
        |FROM k a JOIN k b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY id_a, id_b""".stripMargin,

    // same 3-gram construction as q_decontaminate's oracle; distinct
    // n-grams counted as strings here vs 64-bit hashes in the operator —
    // exact modulo ~2^-64 collisions (the dedup-family equivalence)
    "q_source_overlap" ->
      """WITH toks AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)),
        |tot AS (SELECT source, count(*) AS total FROM sh GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_ngrams
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, shared_ngrams, ta.total AS total_a,
        |  tb.total AS total_b,
        |  round(shared_ngrams * 1.0 / (ta.total + tb.total - shared_ngrams), 6) AS jaccard
        |FROM pr
        |JOIN tot ta ON pr.source_a = ta.source
        |JOIN tot tb ON pr.source_b = tb.source
        |ORDER BY source_a, source_b""".stripMargin,

    // same whitespace tokenization as q_tfidf; ceil(phi * N) threshold
    // computed in-query so the oracle is self-contained at any SF
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                            x -> length(x) > 0)) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS n_total FROM toks)
        |SELECT token, count(*) AS n
        |FROM toks CROSS JOIN n
        |GROUP BY token, n.n_total
        |HAVING count(*) >= ceil(0.0335 * n_total - 1e-9)
        |ORDER BY n DESC, token""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |terms AS (SELECT doc_id, unnest(w) AS term FROM toks),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_total FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln(n.n_total / (df.df * 1.0)), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tfidf
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // Okapi BM25 replica: same tokenization as q_tfidf, RSJ plus-one idf,
    // k1=1.2 b=0.75, avgdl over ALL docs (empty docs count as length 0),
    // expression shapes mirror the Spark operator so double arithmetic
    // associates identically.
    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |terms AS (SELECT doc_id, unnest(w) AS term FROM toks),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scal AS (
        |  SELECT (SELECT count(*) FROM documents) AS n_total,
        |    (SELECT count(*) FROM terms) * 1.0
        |      / (SELECT count(*) FROM documents) AS avgdl),
        |qterms AS (
        |  SELECT DISTINCT doc_id AS q_id, term FROM terms WHERE doc_id < 4),
        |hits AS (
        |  SELECT q.q_id, tf.doc_id,
        |    ln(1.0 + (s.n_total - d.df + 0.5) / (d.df + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS contrib
        |  FROM tf
        |  JOIN qterms q USING (term)
        |  JOIN dft d USING (term)
        |  JOIN dlen l ON tf.doc_id = l.doc_id
        |  CROSS JOIN scal s),
        |scored AS (
        |  SELECT q_id, doc_id, round(sum(contrib), 6) AS score
        |  FROM hits GROUP BY 1, 2),
        |ranked AS (
        |  SELECT q_id, doc_id, score,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, doc_id, score
        |FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // Hybrid retrieval replica: the q_bm25 pipeline at k=10 (queries
    // doc_id < 4), the q_ann_bruteforce pipeline at k=10 (vec_id < 4),
    // then the same 1/(60+rank) reciprocal-rank fusion — integer ranks
    // make the fused doubles engine-identical.
    "q_hybrid_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |terms AS (SELECT doc_id, unnest(w) AS term FROM toks),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scal AS (
        |  SELECT (SELECT count(*) FROM documents) AS n_total,
        |    (SELECT count(*) FROM terms) * 1.0
        |      / (SELECT count(*) FROM documents) AS avgdl),
        |qterms AS (
        |  SELECT DISTINCT doc_id AS q_id, term FROM terms WHERE doc_id < 4),
        |hits AS (
        |  SELECT q.q_id, tf.doc_id,
        |    ln(1.0 + (s.n_total - d.df + 0.5) / (d.df + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS contrib
        |  FROM tf
        |  JOIN qterms q USING (term)
        |  JOIN dft d USING (term)
        |  JOIN dlen l ON tf.doc_id = l.doc_id
        |  CROSS JOIN scal s),
        |lscored AS (
        |  SELECT q_id, doc_id, round(sum(contrib), 6) AS score
        |  FROM hits GROUP BY 1, 2),
        |lranked AS (
        |  SELECT q_id, doc_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        |  FROM lscored),
        |lex AS (SELECT q_id, doc_id, rank FROM lranked WHERE rank <= 10),
        |v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |sscored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 4),
        |sranked AS (
        |  SELECT q_id, doc_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
        |  FROM sscored),
        |sem AS (SELECT q_id, doc_id, rank FROM sranked WHERE rank <= 10),
        |fused AS (
        |  SELECT coalesce(l.q_id, s.q_id) AS q_id,
        |    coalesce(l.doc_id, s.doc_id) AS doc_id,
        |    l.rank AS lex_rank, s.rank AS sem_rank,
        |    coalesce(1.0 / (60 + l.rank), 0.0)
        |      + coalesce(1.0 / (60 + s.rank), 0.0) AS rrf
        |  FROM lex l FULL OUTER JOIN sem s
        |    ON l.q_id = s.q_id AND l.doc_id = s.doc_id),
        |final AS (
        |  SELECT q_id, doc_id, lex_rank, sem_rank, rrf,
        |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
        |  FROM fused)
        |SELECT q_id, rank, doc_id, round(rrf, 6) AS rrf_score, lex_rank, sem_rank
        |FROM final WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // PQ-served hybrid: BM25 leg + the frozen-index IVF-PQ replay leg,
    // same RRF fusion — see SparkEntryOracles.hybridRetrievalPqSql
    "q_hybrid_retrieval_pq" -> SparkEntryOracles.hybridRetrievalPqSql,

    // Mixture resampling replica: same per-source token sums, same
    // frac = min(1, 0.05 x 8000 / cur), same md5-vs-%08x threshold.
    "q_mixture_sample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |cur AS (SELECT source, sum(n_tok) AS tot FROM w GROUP BY source),
        |frac AS (
        |  SELECT source, least(1.0, 0.05 * 8000 / tot) AS f FROM cur),
        |samp AS (
        |  SELECT w.source, w.doc_id, w.n_tok
        |  FROM w JOIN frac USING (source)
        |  WHERE f >= 1.0 OR md5(CAST(doc_id AS VARCHAR)) <
        |    printf('%08x', CAST(floor(f * 4294967296) AS BIGINT)))
        |SELECT source, count(*) AS n_sampled,
        |  CAST(sum(n_tok) AS BIGINT) AS sampled_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS sampled_id_sum
        |FROM samp GROUP BY source ORDER BY source""".stripMargin,

    "q_sample_stratified" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, count(*) AS n_sampled,
        |  CAST(sum(doc_id) AS BIGINT) AS sampled_id_sum
        |FROM r WHERE rk <= ceil(n * 0.3)
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q_lang_id" -> SparkEntryOracles.langIdSql,
    // the full NB train+score chain re-derived in SQL from the inlined
    // fixture (one Scala constant feeds both sides)
    "q_lang_id_nb" -> SparkEntryOracles.langIdNbSql,
    // distributed training on the corpus's even half, scored on the odds
    "q_lang_id_nb_supervised" -> SparkEntryOracles.langIdNbSupervisedSql,

    "q_quality_score" -> SparkEntryOracles.qualityScoreSql,

    "q_multimodal_meta" ->
      """SELECT doc_id % 3 AS kind, count(*) AS n,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_payload,
        |  CAST(sum(32 + (doc_id % 8) * 16) AS BIGINT) AS sum_width,
        |  CAST(sum(8 + doc_id % 32) AS BIGINT) AS sum_frames
        |FROM documents
        |GROUP BY 1
        |ORDER BY kind""".stripMargin,

    // Closed forms of the decoded statistics (see synthesizeMedia):
    // image (kind 0): w=16+(id%8)*8, solid color r=(id*3)%256, b=(id*7)%256
    // audio (kind 1): n=800+(id%16)*104 square-wave samples of amplitude
    //   1000+(id%100)*10 -> RMS = amplitude exactly, mean = 0 exactly
    // video (kind 2): 2+id%4 gray frames; frame f has value (id*5+f)%256
    "q_multimodal_decode" ->
      """SELECT doc_id % 3 AS kind, count(*) AS n,
        |  CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id % 8) * 8
        |                WHEN doc_id % 3 = 2 THEN 16 ELSE 0 END) AS BIGINT) AS sum_width,
        |  CAST(sum(CASE WHEN doc_id % 3 = 2 THEN 2 + doc_id % 4 ELSE 0 END) AS BIGINT) AS sum_frames,
        |  CAST(sum(CASE WHEN doc_id % 3 = 1 THEN 800 + (doc_id % 16) * 104 ELSE 0 END) AS BIGINT) AS sum_samples,
        |  round(1.0 * sum(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 3) % 256
        |                       WHEN doc_id % 3 = 1 THEN 1000 + (doc_id % 100) * 10
        |                       ELSE (doc_id * 5) % 256 END), 3) AS sum_stat1,
        |  round(1.0 * sum(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 7) % 256
        |                       WHEN doc_id % 3 = 1 THEN 0
        |                       ELSE (doc_id * 5 + 1 + doc_id % 4) % 256 END), 3) AS sum_stat2
        |FROM documents
        |GROUP BY 1
        |ORDER BY kind""".stripMargin,

    // Closed forms of synthesizePng's solid-color PNGs (lossless decode →
    // exact means): w=8+(id%8)*4, h=8+(id%4)*4, r=(id*11)%256, b=(id*17)%256
    "q_multimodal_png" ->
      """SELECT count(*) AS n,
        |  CAST(sum(8 + (doc_id % 8) * 4) AS BIGINT) AS sum_width,
        |  CAST(sum(8 + (doc_id % 4) * 4) AS BIGINT) AS sum_height,
        |  round(1.0 * sum((doc_id * 11) % 256), 3) AS sum_mean_r,
        |  round(1.0 * sum((doc_id * 17) % 256), 3) AS sum_mean_b
        |FROM documents""".stripMargin,

    "q_corpus_clean" -> SparkEntryOracles.corpusCleanSql,

    "q_correlated" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(o_totalprice) AS spend
        |  FROM orders GROUP BY o_custkey),
        |cust AS (
        |  SELECT c_custkey, c_nationkey, spend
        |  FROM customer JOIN spend ON c_custkey = o_custkey),
        |na AS (
        |  SELECT c_nationkey AS nk, avg(spend) AS nation_avg
        |  FROM cust GROUP BY c_nationkey)
        |SELECT c_nationkey, count(*) AS n_big, round(max(spend), 2) AS max_spend
        |FROM cust JOIN na ON c_nationkey = nk
        |WHERE spend > nation_avg * 1.5
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_fingerprint" ->
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_distinct_fp
        |FROM documents""".stripMargin,

    // per-source exact distinct trigram shingles — the SQL-replicable half
    // of the approx-distinct pair (Spark counts distinct 64-bit shingle
    // hashes; the count equals this string-shingle count unless xxhash64
    // collides, which would surface as a value mismatch here)
    "q_distinct_exact" ->
      """WITH toks AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i))
        |SELECT source, count(*) AS n_exact
        |FROM sh GROUP BY source ORDER BY source""".stripMargin,

    // token-anchored phrase containment via list slicing; i is 1-based so
    // anchor = i - 1 matches Spark's posexplode
    "q_phrase_search" ->
      """WITH phrases(q_id, phrase) AS (
        |  VALUES (1, 'table hash'), (2, 'slow hash batch'),
        |         (3, 'value slow hash data'), (4, 'the the'),
        |         (5, 'zz absent phrase')
        |), ptoks AS (
        |  SELECT q_id, list_filter(string_split_regex(lower(trim(phrase)), '\s+'), x -> x <> '') AS pw
        |  FROM phrases
        |), toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents
        |), anchors AS (
        |  SELECT p.q_id, t.doc_id, i - 1 AS anchor
        |  FROM toks t, ptoks p, unnest(range(1, len(t.w) - len(p.pw) + 2)) AS u(i)
        |  WHERE t.w[i:i+len(p.pw)-1] = p.pw
        |)
        |SELECT q_id, doc_id, count(*) AS n_matches, min(anchor) AS first_pos
        |FROM anchors GROUP BY q_id, doc_id
        |ORDER BY q_id, doc_id""".stripMargin,

    // same md5-string bucketing, add-alpha bucket models, and rounded
    // log-ratio sum as ImportanceSampling.dsirResample (B = 16^3 = 4096,
    // alpha = 0.5, target = src0-2, n = 100)
    "q_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents
        |), feats AS (
        |  SELECT doc_id, source, substr(md5(gram), 1, 3) AS b
        |  FROM (
        |    SELECT doc_id, source, unnest(w) AS gram FROM toks
        |    UNION ALL
        |    SELECT doc_id, source, w[i] || ' ' || w[i+1] AS gram
        |    FROM toks, unnest(range(1, len(w))) AS t(i)
        |  )
        |), docb AS (
        |  SELECT doc_id, b, count(*) AS n FROM feats GROUP BY 1, 2
        |), rawb AS (
        |  SELECT b, count(*) AS cr,
        |    count(*) FILTER (source IN ('src0','src1','src2')) AS ct
        |  FROM feats GROUP BY 1
        |), tot AS (
        |  SELECT sum(cr) AS tr, sum(ct) AS tt FROM rawb
        |), bstats AS (
        |  SELECT r.b,
        |    ln((r.ct + 0.5) / (tot.tt + 0.5 * 4096))
        |      - ln((r.cr + 0.5) / (tot.tr + 0.5 * 4096)) AS llr
        |  FROM rawb r, tot
        |), wts AS (
        |  SELECT d.doc_id, round(sum(d.n * s.llr), 6) AS log_weight
        |  FROM docb d JOIN bstats s USING (b) GROUP BY 1
        |), allw AS (
        |  SELECT doc.doc_id, coalesce(w.log_weight, 0.0) AS log_weight
        |  FROM documents doc LEFT JOIN wts w USING (doc_id)
        |)
        |SELECT doc_id, log_weight,
        |  CASE WHEN row_number() OVER (ORDER BY log_weight DESC, doc_id) <= 100
        |       THEN 1 ELSE 0 END AS selected
        |FROM allw ORDER BY doc_id""".stripMargin,

    // Gopher repetition fractions: char mass of the top / duplicated word
    // n-grams over the length of the single-space-joined tokens; ties on
    // the top gram break to the binary-smallest gram; dup mass clamps at 1
    "q_repetition_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents
        |), ns(n) AS (SELECT unnest(range(2, 11))),
        |grams AS (
        |  SELECT t.doc_id, ns.n, array_to_string(t.w[i:i+ns.n-1], ' ') AS gram,
        |    length(array_to_string(t.w, ' ')) AS nc
        |  FROM toks t, ns, unnest(range(1, len(t.w) - ns.n + 2)) AS u(i)
        |), gc AS (
        |  SELECT doc_id, n, gram, nc, count(*) AS c,
        |    count(*) * length(gram) AS mass
        |  FROM grams GROUP BY 1, 2, 3, 4
        |), top AS (
        |  SELECT doc_id, n, round(mass * 1.0 / nc, 6) AS top_frac
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |                                     ORDER BY c DESC, gram) AS rk
        |        FROM gc)
        |  WHERE rk = 1
        |), dup AS (
        |  SELECT doc_id, n,
        |    round(least(1.0, sum(CASE WHEN c >= 2 THEN mass ELSE 0 END) * 1.0 / nc), 6) AS dup_frac
        |  FROM gc GROUP BY 1, 2, nc
        |)
        |SELECT t.doc_id, t.n, t.top_frac, d.dup_frac
        |FROM top t JOIN dup d USING (doc_id, n)
        |ORDER BY doc_id, n""".stripMargin,

    // interpolated Kneser-Ney replica: D = 0.75, same <s> begin context,
    // continuation counts over bigram TYPES, -log2 averaged and rounded 4
    "q_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS prev, w[i] AS cur
        |  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)
        |  WHERE len(w) > 0),
        |bc AS (SELECT prev, cur, count(*) AS c FROM bi GROUP BY 1, 2),
        |pc AS (SELECT prev, count(*) AS pcnt FROM bi GROUP BY 1),
        |np AS (SELECT prev, count(*) AS n1prev FROM bc GROUP BY 1),
        |ncont AS (SELECT cur, count(*) AS n1cont FROM bc GROUP BY 1),
        |tots AS (SELECT count(*) AS tt FROM bc),
        |scored AS (
        |  SELECT doc_id,
        |    -log2(greatest(c - 0.75, 0) / pcnt
        |          + 0.75 * n1prev / pcnt * (n1cont * 1.0 / tt)) AS s
        |  FROM bi JOIN bc USING (prev, cur) JOIN pc USING (prev)
        |    JOIN np USING (prev) JOIN ncont USING (cur) CROSS JOIN tots),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams, round(avg(s), 4) AS kn_surprisal
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(kn_surprisal, 0.0) AS kn_surprisal
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // brute-force replica of the PassJoin-blocked operator: blocking is
    // complete and the verify exact, so output == brute force with the
    // implied |len diff| <= k band
    "q_dedup_editdist" ->
      """WITH d AS (
        |  SELECT doc_id, substr(lower(trim(text)), 1, 120) AS h FROM documents),
        |dd AS (SELECT doc_id, h, length(h) AS len FROM d WHERE length(h) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    levenshtein(a.h, b.h) AS dist
        |  FROM dd a JOIN dd b ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 6)
        |SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist
        |FROM pairs WHERE dist <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    // per-doc Shannon entropy replica: H = log2(N) - sum(c*log2 c)/N over
    // chars of lower(trim(text)) and over whitespace tokens, rounded 4
    "q_entropy" ->
      """WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |chars AS (
        |  SELECT doc_id, substr(t, CAST(i AS INTEGER), 1) AS s
        |  FROM d, unnest(range(1, length(t) + 1)) AS u(i)
        |  WHERE length(t) > 0),
        |cc AS (SELECT doc_id, s, count(*) AS c FROM chars GROUP BY 1, 2),
        |ce AS (SELECT doc_id, sum(c) AS n_chars,
        |    round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS char_entropy
        |  FROM cc GROUP BY 1),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(t, '\s+'), x -> length(x) > 0)) AS s
        |  FROM d),
        |tc AS (SELECT doc_id, s, count(*) AS c FROM toks GROUP BY 1, 2),
        |te AS (SELECT doc_id, sum(c) AS n_tokens,
        |    round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS token_entropy
        |  FROM tc GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(ce.n_chars, 0) AS BIGINT) AS n_chars,
        |  coalesce(ce.char_entropy, 0.0) AS char_entropy,
        |  CAST(coalesce(te.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  coalesce(te.token_entropy, 0.0) AS token_entropy
        |FROM documents d LEFT JOIN ce USING (doc_id) LEFT JOIN te USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // distinct-n replica: positional n-grams with multiplicity, per-source
    // distinct/total, ratios rounded 6
    "q_distinct_ngrams" ->
      """WITH toks AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |g1 AS (SELECT source, unnest(w) AS g FROM toks),
        |g2 AS (SELECT source, w[i] || ' ' || w[i+1] AS g
        |       FROM toks, unnest(range(1, len(w))) AS t(i)),
        |g3 AS (SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |       FROM toks, unnest(range(1, len(w) - 1)) AS t(i)),
        |s1 AS (SELECT source, count(*) AS tot, count(DISTINCT g) AS d FROM g1 GROUP BY 1),
        |s2 AS (SELECT source, count(*) AS tot, count(DISTINCT g) AS d FROM g2 GROUP BY 1),
        |s3 AS (SELECT source, count(*) AS tot, count(DISTINCT g) AS d FROM g3 GROUP BY 1)
        |SELECT s1.source AS slice, s1.tot AS n_tokens,
        |  s1.d AS distinct_1,
        |  coalesce(s2.d, 0) AS distinct_2, coalesce(s3.d, 0) AS distinct_3,
        |  round(s1.d * 1.0 / s1.tot, 6) AS ratio_1,
        |  coalesce(round(s2.d * 1.0 / s2.tot, 6), 0.0) AS ratio_2,
        |  coalesce(round(s3.d * 1.0 / s3.tot, 6), 0.0) AS ratio_3
        |FROM s1 LEFT JOIN s2 USING (source) LEFT JOIN s3 USING (source)
        |ORDER BY slice""".stripMargin,

    // blocklist replica: same tokenizer, token IN-list for single terms,
    // consecutive-run containment for phrases (overlapping matches)
    "q_blocklist" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, count(*) AS term_hits, count(DISTINCT tok) AS distinct_terms
        |  FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
        |  WHERE tok IN ('slow', 'vector', 'zzqq_absent')
        |  GROUP BY 1),
        |ph AS (
        |  SELECT doc_id, count(*) AS phrase_hits
        |  FROM (
        |    SELECT t.doc_id
        |    FROM toks t,
        |      (VALUES (['slow','hash']), (['table','hash'])) p(pw),
        |      unnest(range(1, len(t.w) - len(p.pw) + 2)) AS u(i)
        |    WHERE t.w[i:i+len(p.pw)-1] = p.pw)
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(term_hits, 0) AS term_hits,
        |  coalesce(distinct_terms, 0) AS distinct_terms,
        |  coalesce(phrase_hits, 0) AS phrase_hits,
        |  (coalesce(term_hits, 0) + coalesce(phrase_hits, 0)) > 0 AS blocked
        |FROM documents d LEFT JOIN th USING (doc_id) LEFT JOIN ph USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // per-source cap replica: row_number over (n_chars DESC, doc_id)
    "q_cap_per_source" ->
      """SELECT doc_id, source, n_chars, CAST(cap_rank AS INTEGER) AS cap_rank
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS cap_rank
        |  FROM documents)
        |WHERE cap_rank <= 20
        |ORDER BY source, cap_rank""".stripMargin,

    // Winnowing: k=5 char-grams, window w=4, fingerprint = low 60 bits of
    // md5; truncated-window fallback keeps docs with < w k-grams.
    "q_dedup_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, lower(trim(text)) AS t FROM documents
        |  WHERE length(lower(trim(text))) >= 5),
        |g AS (
        |  SELECT doc_id, i AS p,
        |    ('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)), 1, 15))::BIGINT AS h
        |  FROM d, unnest(range(1, length(t) - 3)) AS u(i)),
        |win AS (
        |  SELECT doc_id, p,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM win WHERE p <= greatest(1, n - 3)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM fps GROUP BY 1),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM fps a JOIN rare r ON a.fp = r.fp JOIN fps b ON b.fp = a.fp
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, shared,
        |  round(shared * 1.0 / least(sa.sz, sb.sz), 4) AS overlap
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE round(shared * 1.0 / least(sa.sz, sb.sz), 4) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    // Script classes: RE2 \p{Latin}-style == Java \p{IsLatin}-style for
    // these scripts; 'g' flag makes regexp_replace global like Spark's.
    "q_script_profile" ->
      """WITH c AS (
        |  SELECT doc_id AS id, length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[\p{Latin}]', '', 'g')) AS c_latin,
        |    length(text) - length(regexp_replace(text, '[\p{Cyrillic}]', '', 'g')) AS c_cyrillic,
        |    length(text) - length(regexp_replace(text, '[\p{Han}]', '', 'g')) AS c_han,
        |    length(text) - length(regexp_replace(text, '[\p{Arabic}]', '', 'g')) AS c_arabic,
        |    length(text) - length(regexp_replace(text, '[\p{Devanagari}]', '', 'g')) AS c_devanagari,
        |    length(text) - length(regexp_replace(text, '[\p{Greek}]', '', 'g')) AS c_greek,
        |    length(text) - length(regexp_replace(text, '[\p{Hangul}]', '', 'g')) AS c_hangul,
        |    length(text) - length(regexp_replace(text, '[\p{Hiragana}\p{Katakana}]', '', 'g')) AS c_kana,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS c_digit,
        |    length(text) - length(regexp_replace(text, '[\s]', '', 'g')) AS c_space
        |  FROM documents),
        |m AS (
        |  SELECT *,
        |    greatest(c_latin, c_cyrillic, c_han, c_arabic, c_devanagari,
        |             c_greek, c_hangul, c_kana) AS mx,
        |    c_latin + c_cyrillic + c_han + c_arabic + c_devanagari + c_greek
        |      + c_hangul + c_kana + c_digit + c_space AS known
        |  FROM c)
        |SELECT id, n_chars,
        |  CASE WHEN n_chars > 0 THEN round(c_latin * 1.0 / n_chars, 4) ELSE 0.0 END AS latin_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_cyrillic * 1.0 / n_chars, 4) ELSE 0.0 END AS cyrillic_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_han * 1.0 / n_chars, 4) ELSE 0.0 END AS han_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_arabic * 1.0 / n_chars, 4) ELSE 0.0 END AS arabic_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_devanagari * 1.0 / n_chars, 4) ELSE 0.0 END AS devanagari_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_greek * 1.0 / n_chars, 4) ELSE 0.0 END AS greek_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_hangul * 1.0 / n_chars, 4) ELSE 0.0 END AS hangul_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_kana * 1.0 / n_chars, 4) ELSE 0.0 END AS kana_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_digit * 1.0 / n_chars, 4) ELSE 0.0 END AS digit_frac,
        |  CASE WHEN n_chars > 0 THEN round(c_space * 1.0 / n_chars, 4) ELSE 0.0 END AS space_frac,
        |  CASE WHEN n_chars > 0 THEN round((n_chars - known) * 1.0 / n_chars, 4) ELSE 0.0 END AS other_frac,
        |  CASE WHEN mx <= 0 THEN 'none'
        |       WHEN c_latin = mx THEN 'latin'
        |       WHEN c_cyrillic = mx THEN 'cyrillic'
        |       WHEN c_han = mx THEN 'han'
        |       WHEN c_arabic = mx THEN 'arabic'
        |       WHEN c_devanagari = mx THEN 'devanagari'
        |       WHEN c_greek = mx THEN 'greek'
        |       WHEN c_hangul = mx THEN 'hangul'
        |       ELSE 'kana' END AS dominant_script
        |FROM m ORDER BY id""".stripMargin,

    "q_vocab_stats" ->
      """WITH toks AS (
        |  SELECT source AS slice,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                       x -> x <> '')) AS w
        |  FROM documents),
        |freq AS (SELECT slice, w, count(*) AS f FROM toks GROUP BY 1, 2),
        |ranked AS (
        |  SELECT slice, w, f,
        |    row_number() OVER (PARTITION BY slice ORDER BY f DESC, w) AS r
        |  FROM freq),
        |agg AS (
        |  SELECT slice,
        |    CAST(sum(f) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    count(*) FILTER (f = 1) AS hapax,
        |    CAST(coalesce(sum(f) FILTER (r <= 10), 0) AS BIGINT) AS head,
        |    count(*) FILTER (r <= 1000) AS zn,
        |    coalesce(sum(ln(r)) FILTER (r <= 1000), 0.0) AS sx,
        |    coalesce(sum(ln(f)) FILTER (r <= 1000), 0.0) AS sy,
        |    coalesce(sum(ln(r) * ln(f)) FILTER (r <= 1000), 0.0) AS sxy,
        |    coalesce(sum(ln(r) * ln(r)) FILTER (r <= 1000), 0.0) AS sxx
        |  FROM ranked GROUP BY 1)
        |SELECT slice, n_tokens, n_types,
        |  round(n_types * 1.0 / n_tokens, 6) AS type_token_ratio,
        |  round(hapax * 1.0 / n_types, 6) AS hapax_frac,
        |  round(head * 1.0 / n_tokens, 6) AS head_coverage,
        |  CASE WHEN zn < 2 OR zn * sxx - sx * sx = 0 THEN 0.0
        |       ELSE round((zn * sxy - sx * sy) / (zn * sxx - sx * sx), 3)
        |  END AS zipf_slope
        |FROM agg ORDER BY slice""".stripMargin,

    "q_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                       x -> x <> '')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w FROM (SELECT w, count(*) AS f FROM toks GROUP BY 1)
        |  ORDER BY f DESC, w LIMIT 16),
        |per AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    count(*) FILTER (v.w IS NULL) AS n_oov
        |  FROM toks t LEFT JOIN vocab v ON t.w = v.w GROUP BY 1)
        |SELECT d.doc_id AS id,
        |  coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(n_oov, 0) AS n_oov,
        |  coalesce(round(n_oov * 1.0 / n_tokens, 6), 0.0) AS oov_frac
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY id""".stripMargin,

    "q_novelty" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT AS h
        |  FROM d, unnest(range(1, len(w) - 1)) AS t(i)),
        |fst AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |per AS (
        |  SELECT s.doc_id, count(*) AS n_shingles,
        |    count(*) FILTER (f.first_doc = s.doc_id) AS n_novel
        |  FROM sh s JOIN fst f ON s.h = f.h GROUP BY 1)
        |SELECT doc.doc_id AS id,
        |  coalesce(n_shingles, 0) AS n_shingles,
        |  coalesce(n_novel, 0) AS n_novel,
        |  coalesce(round(n_novel * 1.0 / n_shingles, 6), 1.0) AS novelty
        |FROM (SELECT DISTINCT doc_id FROM documents) doc
        |LEFT JOIN per ON per.doc_id = doc.doc_id
        |ORDER BY id""".stripMargin,
  )
}
