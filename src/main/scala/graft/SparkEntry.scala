package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * query covers, and §7 for the build plan.
  *
  * Oracle-parity conventions (the driver compares against DuckDB running
  * `oracleSql` on the same parquet):
  *  - money/double aggregates go through `floor(x*100 + 0.5)` → BIGINT
  *    ("cents") — floor on IEEE doubles is bit-identical across engines,
  *    unlike sum/avg of raw doubles (summation order differs);
  *  - every query has a deterministic total ORDER BY;
  *  - column names and types are aligned on both sides.
  */
object SparkEntry {

  /** Loads the named tables as temp views + registers graft SQL functions.
    * `events.ts` is TIMESTAMP(NANOS) parquet, which Spark 4 rejects —
    * read it as long nanos and rebuild a microsecond timestamp (integer
    * division: ns since 2024 overflows double precision). */
  /** Deterministic MULTI-line view of the (single-line) documents table:
    * the wordChunks 8-word-window construction joined with '\n' (single-
    * pass WordChunks expression — one tokenize per document). Input for
    * the line-dedup queries; the DuckDB oracles rebuild the identical
    * view, so line semantics are hash-gated end to end. */
  private def multilineView(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftshim.{GraftShim => E}
    spark.table("documents").select(col("doc_id"),
      concat_ws("\n", E.column(graft.functions.WordChunks(
        E.expression(col("text")), 8))).as("text"))
  }

  private def prep(spark: SparkSession, dir: String, tables: String*): Unit = {
    Graft.register(spark)
    tables.foreach { t =>
      val df =
        if (t == "events") {
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          // ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS);
          // normalize either encoding to one TimestampType schema
          streaming.EventStreams.normalizeEventTs(
            spark.read.parquet(s"$dir/$t.parquet"))
        } else spark.read.parquet(s"$dir/$t.parquet")
      df.createOrReplaceTempView(t)
    }
  }

  /** LOUD guard on the registry's +1e6 supplier-id offset convention
    * (r17, verdict item 8): every trade/order-flow graph build places
    * supplier nodes at `l_suppkey + 1000000`, and graph_hits' forward-half
    * filter (`src < 1e6`) DEPENDS on customer ids staying below the
    * offset. At bench TPC-H scale factors max(o_custkey) ≪ 1e6; at 100 TB
    * cardinalities a custkey ≥ 1e6 would SILENTLY collide customer and
    * supplier nodes (corrupted graph, no error). In-column guard — one
    * comparison per row riding the build projection, no extra driver
    * action (guide §1.2) — fails the build with a named error instead.
    * A NULL id cannot collide with anything and passes through as NULL. */
  private[graft] def custIdBelowOffset(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNull || c < 1000000L, c).otherwise(raise_error(lit(
      "trade-graph build: o_custkey >= 1000000 collides with the " +
        "+1e6 supplier-id offset — raise the offset convention")))
  /** [[custIdBelowOffset]] as a Spark-SQL fragment for the SQL-built
    * edge sets (graph_reciprocity). */
  private[graft] def custIdBelowOffsetSql(c: String): String =
    s"CASE WHEN $c IS NULL OR $c < 1000000 THEN $c ELSE raise_error(" +
      "'trade-graph build: o_custkey >= 1000000 collides with the " +
      "+1e6 supplier-id offset — raise the offset convention') END"

  /** The order/return flow graph (the graph_scc / graph_walks /
    * graph_condensation input): cust → supplier on kept lines, supplier
    * → cust on returns, sliced to every 8th order so the oracle's
    * transitive closure stays tractable. */
  private def orderFlowEdges(s: SparkSession): DataFrame = {
    val li = s.table("orders").join(s.table("lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .where(col("o_orderkey") % 8 === 0)
    val fwd = li.where(col("l_returnflag") =!= "R")
      .select(custIdBelowOffset(col("o_custkey")).as("src"),
        (col("l_suppkey") + 1000000).as("dst"))
    val bwd = li.where(col("l_returnflag") === "R")
      .select((col("l_suppkey") + 1000000).as("src"),
        custIdBelowOffset(col("o_custkey")).as("dst"))
    pipeline.Materialize.cut(fwd.union(bwd))
  }

  /** The bidirected WEIGHTED customer↔supplier trade graph (weight =
    * distinct orders linking the pair — the graph_pagerank_weighted
    * input). */
  private def tradeEdgesWeighted(s: SparkSession): DataFrame = {
    val e0 = s.table("orders")
      .join(s.table("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(custIdBelowOffset(col("o_custkey")).as("c"), col("l_suppkey").as("sp"))
      .agg(countDistinct(col("o_orderkey")).as("w"))
    pipeline.Materialize.cut(
      e0.select(col("c").as("src"), (col("sp") + 1000000L).as("dst"), col("w"))
        .union(e0.select((col("sp") + 1000000L).as("src"), col("c").as("dst"),
          col("w"))))
  }

  /** The bidirected customer↔supplier trade graph (the pagerank, ppr,
    * betweenness, bfs, shortest_paths, degree_dist and landmark-trio
    * input): the weighted frame's row set with the weight projected
    * away — the groupBy (c, sp) keys ARE the distinct (c, sp) pairs. */
  private def tradeEdges(s: SparkSession): DataFrame =
    tradeEdgesWeighted(s).select("src", "dst")

  /** The quarter-order co-purchase wedge frame (triangles, clustering,
    * modularity, kcore, communities, louvain, louvain_full,
    * assortativity, links): the lineitem self-join on l_orderkey,
    * one (src, dst) row per part pair bought in one order. */
  private def coPurchaseWedges(s: SparkSession): DataFrame = {
    val li = s.table("lineitem").where(col("l_orderkey") % 4 === 0)
    pipeline.Materialize.cut(li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst")))
  }

  /** The hub-guarded weighted co-purchase projection (graph_copurchase
    * publishes it; graph_mst builds its forest on it). */
  private def coPurchaseProjection(s: SparkSession): DataFrame =
    pipeline.Materialize.cut(pipeline.Graph.bipartiteProjection(
      s.table("lineitem").where(col("l_orderkey") % 4 === 0),
      "l_orderkey", "l_partkey"))

  /** The consecutive-id pair jaccard frame at shingle=3, `(a, b, n_int,
    * n_union)` (ngram_jaccard and, through [[docDupGroups]], groups,
    * representatives, group_sizes and group_split). */
  private def docPairJaccard(s: SparkSession): DataFrame = {
    val docs = s.table("documents")
    val pairs = docs.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      .join(docs.select(col("doc_id").as("b")), "b")
    pipeline.Materialize.cut(
      pipeline.Dedup.verifyJaccard(pairs, docs, "doc_id", "text", shingle = 3))
  }

  /** The 0.55-threshold connected components over [[docPairJaccard]]
    * (`id, group_id`). */
  private def docDupGroups(s: SparkSession): DataFrame =
    pipeline.Materialize.cut(pipeline.Dedup.connectedComponents(
      s.table("documents").select(col("doc_id").as("id")),
      docPairJaccard(s)
        .where(col("n_int") * 100 >= col("n_union") * 55)
        .select("a", "b")))

  /** recall@10 of an approximate top-k method against the in-registry
    * brute-force twin, per query vector (the 5 vec_id < 5 queries of the
    * ann_* family): `(query_id, recall_ppm)` — both sides deterministic,
    * so the metric hash-gates even though the ranked list itself is lossy. */
  private def annRecall(s: SparkSession, dir: String,
                        ann: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    prep(s, dir, "embeddings")
    val emb = s.table("embeddings")
    val q = emb.where(col("vec_id") < 5)
    val bf = pipeline.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10)
    bf.as("b").join(ann(emb, q).as("a"),
        col("b.query_id") === col("a.query_id") &&
          col("b.neighbor_id") === col("a.neighbor_id"), "left")
      .groupBy(col("b.query_id").as("query_id"))
      .agg(expr("CAST((count(a.neighbor_id) * 1000000) DIV 10 AS BIGINT)")
        .as("recall_ppm"))
      .orderBy("query_id")
  }

  /** Flagship: reference README's LATERAL VIEW flow over the events stream —
    * jq-extract a typed field from each JSON payload, aggregate per type. */
  def entry(spark: SparkSession): DataFrame = {
    prep(spark, "/root/testdata/sf0.001", "events")
    spark.sql("""
      SELECT e.event_type, count(*) AS n, sum(x.k) AS sum_k
      FROM events e
      LATERAL VIEW jq(e.props, '{k}', 'k:int') x
      GROUP BY e.event_type ORDER BY e.event_type""")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- jq surface (SURVEY §2.1/§2.2) ----------------------------------
    "jq_single_int" -> { (s, dir) =>
      prep(s, dir, "events")
      s.sql("""
        SELECT event_type, CAST(sum(x.col1) AS BIGINT) AS sum_k, count(*) AS n
        FROM events LATERAL VIEW jq(props, '.k', 'int') x
        GROUP BY event_type ORDER BY event_type""")
    },
    "jq_multi_col" -> { (s, dir) =>
      prep(s, dir, "events")
      s.sql("""
        SELECT event_id, x.k, x.d, x.s
        FROM events
        LATERAL VIEW jq(props, '{k, d: (.k*2), s: (.k|tostring)}',
                        'k:int', 'd:int', 's:string') x
        ORDER BY event_id""")
    },
    "jq_lateral_view" -> { (s, dir) =>
      prep(s, dir, "events")
      s.sql("""
        SELECT event_type, count(*) AS n, CAST(sum(x.k) AS BIGINT) AS sum_k
        FROM events LATERAL VIEW jq(props, '{k}', 'k:int') x
        WHERE x.k > 50
        GROUP BY event_type ORDER BY event_type""")
    },
    "jq_array_iterate" -> { (s, dir) =>
      prep(s, dir, "events")
      s.sql("""
        SELECT event_id, x.col1
        FROM events LATERAL VIEW jq(props, '.k, .k+1, .k+2', 'int') x
        WHERE event_id < 200
        ORDER BY event_id, col1""")
    },
    "jq_error_skip" -> { (s, dir) =>
      prep(s, dir, "events")
      // every 10th payload gets trailing garbage → $error → skipped via empty
      s.sql("""
        SELECT event_type, count(*) AS n, CAST(sum(x.k) AS BIGINT) AS sum_k
        FROM (SELECT event_type,
                     concat(props, CASE WHEN event_id % 10 = 0 THEN 'x' ELSE '' END) AS p
              FROM events) t
        LATERAL VIEW jq(t.p, 'if $error then empty else {k: .k} end', 'k:int') x
        GROUP BY event_type ORDER BY event_type""")
    },
    "jq_error_substitute" -> { (s, dir) =>
      prep(s, dir, "events")
      s.sql("""
        SELECT event_type, count(*) AS n, CAST(sum(x.k) AS BIGINT) AS sum_k
        FROM (SELECT event_type,
                     concat(props, CASE WHEN event_id % 10 = 0 THEN 'x' ELSE '' END) AS p
              FROM events) t
        LATERAL VIEW jq(t.p, 'if $error then {k: -1} else {k: .k} end', 'k:int') x
        GROUP BY event_type ORDER BY event_type""")
    },
    "jq_single_struct" -> { (s, dir) =>
      prep(s, dir, "events")
      // single-column STRUCT form: whole jq result marshalled into col1
      s.sql("""
        SELECT event_id, x.col1.k AS k, x.col1.d AS d
        FROM events
        LATERAL VIEW jq(props, '{k, d: (.k * 3)}', 'struct<k:int,d:int>') x
        WHERE event_id < 400
        ORDER BY event_id""")
    },
    "jq_types_all" -> { (s, dir) =>
      prep(s, dir, "events")
      // every marshal type in one pass: primitives, array, map, struct
      s.sql("""
        SELECT event_id, x.i, x.b, x.f, x.bo, x.s, x.arr[1] AS a1,
               x.m['v'] AS mv, x.st.q AS stq
        FROM events
        LATERAL VIEW jq(props,
          '{i: .k, b: (.k * 1000000000), f: (.k / 4), bo: (.k > 50),
            s: (.k | tostring), arr: [.k, .k + 1], m: {v: .k}, st: {q: (.k + 7)}}',
          'i:int', 'b:bigint', 'f:double', 'bo:boolean', 's:string',
          'arr:array<int>', 'm:map<string,int>', 'st:struct<q:int>') x
        WHERE event_id < 400
        ORDER BY event_id""")
    },
    "jq_builtins_text" -> { (s, dir) =>
      prep(s, dir, "documents")
      // jq string builtins over real text (wrapped as JSON via to_json).
      // ONE generator call with two typed outputs — the previous two
      // jq_string calls serialized and parsed every row's JSON twice,
      // doubling the dominant cost on a large text scan.
      s.sql("""
        SELECT doc_id, x.up20, x.n_words
        FROM documents
        LATERAL VIEW jq(to_json(struct(text)),
          '{up20: (.text | ascii_upcase | .[0:20]),
            n_words: (.text | split(" ") | map(select(length > 0)) | length)}',
          'up20:string', 'n_words:bigint') x
        ORDER BY doc_id""")
    },
    "jq_extract_all" -> { (s, dir) =>
      prep(s, dir, "events")
      // to_json-wrapped: the driver's hasher sorts result columns in pandas,
      // which cannot hash a top-level array<string> — a JSON string of the
      // same array hashes fine and proves the same extraction.
      s.sql("""
        SELECT event_id,
               to_json(jq_extract_all(props, '.k, (.k*2)')) AS vals
        FROM events WHERE event_id < 300 ORDER BY event_id""")
    },
    "jq_dates" -> { (s, dir) =>
      prep(s, dir, "events")
      // jq date builtins over real timestamps (UTC session): todate ISO
      // rendering + gmtime component extraction, one generator call
      s.sql("""
        SELECT event_id, x.iso, x.hour
        FROM events
        LATERAL VIEW jq(to_json(struct(CAST(unix_timestamp(ts) AS BIGINT) AS t)),
          '{iso: (.t | todate), hour: (.t | gmtime | .[3])}',
          'iso:string', 'hour:bigint') x
        WHERE event_id < 300 ORDER BY event_id""")
    },
    "jq_outer_lateral" -> { (s, dir) =>
      prep(s, dir, "events")
      // LATERAL VIEW OUTER: a zero-output program still yields one row of
      // NULLs per input (reference README's OUTER example shape)
      s.sql("""
        SELECT event_id, x.k
        FROM events
        LATERAL VIEW OUTER jq(props, 'if .k > 90 then {k} else empty end', 'k:int') x
        WHERE event_id < 300
        ORDER BY event_id""")
    },
    "jq_events_pipeline" -> { (s, dir) =>
      prep(s, dir, "events")
      // jq extraction feeding a relational pipeline: filter → join-free agg →
      // post-agg jq object construction (round-trips the agg through JSON)
      s.sql("""
        SELECT event_type,
               jq_string(to_json(struct(n, sum_k)), '"n=\\(.n),sum=\\(.sum_k)"') AS packed,
               n, sum_k
        FROM (
          SELECT event_type, count(*) AS n, CAST(sum(x.k) AS BIGINT) AS sum_k
          FROM events LATERAL VIEW jq(props, '{k}', 'k:int') x
          WHERE x.k >= 10 GROUP BY event_type
        ) ORDER BY event_type""")
    },

    // ---- relational core (SURVEY §2.3) ----------------------------------
    "rel_q1_agg" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    },
    "rel_q3_join" -> { (s, dir) =>
      prep(s, dir, "customer", "orders", "lineitem")
      s.sql("""
        SELECT o.o_orderkey,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY o.o_orderkey
        ORDER BY rev_cents DESC, o_orderkey
        LIMIT 10""")
    },
    "rel_q5_multijoin" -> { (s, dir) =>
      prep(s, dir, "region", "nation", "customer", "orders", "lineitem")
      s.sql("""
        SELECT n.n_name,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        ORDER BY rev_cents DESC, n_name""")
    },
    "rel_q18_semijoin" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // large-large shuffle join: big-side pre-aggregation on l_orderkey,
      // then join with orders (TPC-H Q18 shape)
      s.sql("""
        SELECT o.o_orderkey, o.o_orderpriority, t.total_qty
        FROM orders o
        JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(CAST(l_quantity AS BIGINT)) > 150) t
          ON t.l_orderkey = o.o_orderkey
        ORDER BY t.total_qty DESC, o.o_orderkey
        LIMIT 100""")
    },
    "rel_q7_volume" -> { (s, dir) =>
      prep(s, dir, "nation", "supplier", "customer", "orders", "lineitem")
      // TPC-H Q7 shape: two-nation shipping volume by year — five joins
      // (two broadcast dims), date extraction, multi-key agg
      s.sql("""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year""")
    },
    "rel_q10_returns" -> { (s, dir) =>
      prep(s, dir, "customer", "orders", "lineitem")
      // TPC-H Q10 shape: top customers by returned-item revenue
      s.sql("""
        SELECT c.c_custkey, c.c_name,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY rev_cents DESC, c_custkey
        LIMIT 20""")
    },
    "rel_q4_priority" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // TPC-H Q4 shape: order-priority checking — correlated EXISTS over
      // the fact table (planned as a left-semi shuffle join) + date range
      s.sql("""
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority""")
    },
    "rel_q12_shipmode" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // TPC-H Q12 shape: conditional (CASE-summed) aggregation after a
      // fact-fact join, returnflag standing in for the absent l_shipmode
      s.sql("""
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag""")
    },
    "rel_q19_disjunctive" -> { (s, dir) =>
      prep(s, dir, "part", "lineitem")
      // TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
      // predicates across a join — exercises OR-predicate pushdown and
      // join-condition extraction from the disjunction
      s.sql("""
        SELECT CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)""")
    },
    "rel_q6_forecast" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // TPC-H Q6 shape: pure scan+filter+agg — every predicate must reach
      // the parquet scan (PushedFilters) since nothing else bounds the read
      s.sql("""
        SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    },
    "rel_q14_promo" -> { (s, dir) =>
      prep(s, dir, "part", "lineitem")
      // TPC-H Q14 shape: conditional revenue share — both sums integer-
      // exact cents; the final ratio is one IEEE division (engine-identical)
      s.sql("""
        SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                             THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS promo_cents,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""")
    },
    "rel_q16_supplier_cnt" -> { (s, dir) =>
      prep(s, dir, "part", "supplier", "lineitem")
      // TPC-H Q16 shape: DISTINCT-supplier count per part attribute with a
      // NOT IN exclusion subquery (anti join against low-balance suppliers)
      s.sql("""
        SELECT p.p_brand, p.p_size,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size IN (1, 14, 23, 45)
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""")
    },
    "rel_q15_top_supplier" -> { (s, dir) =>
      prep(s, dir, "supplier", "lineitem")
      // TPC-H Q15 shape: revenue per supplier over a quarter, keep the
      // max-revenue supplier(s) — the "view + scalar subquery" pattern
      s.sql("""
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, r.total_cents
        FROM supplier s
        JOIN rev r ON r.l_suppkey = s.s_suppkey
        WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
        ORDER BY s.s_suppkey""")
    },
    "jq_wide_extract" -> { (s, dir) =>
      prep(s, dir, "documents")
      // the dominant 100 TB UDTF shape: scalar extraction from a WIDE
      // payload — 12 fields synthesized per row, program touches 2, so the
      // footprint-pruned parse (Footprint/parsePruned) skips 10 subtrees
      s.sql("""
        SELECT doc_id, x.lang2, x.half
        FROM (SELECT doc_id, to_json(named_struct(
                'f0', text, 'f1', source, 'f2', n_chars, 'f3', text,
                'f4', doc_id * 2, 'f5', text, 'f6', source, 'f7', n_chars,
                'lang', lang, 'f8', text, 'n', n_chars, 'f9', text)) AS payload
              FROM documents) t
        LATERAL VIEW jq(payload, '{lang2: (.lang + .lang), half: (.n / 2 | floor)}',
                        'lang2:string', 'half:bigint') x
        ORDER BY doc_id""")
    },
    "jq_regex_text" -> { (s, dir) =>
      prep(s, dir, "documents")
      // the regex builtin family through the SQL surface (was spec-only):
      // gsub rewrite + match counting, oracle-mirrored by DuckDB RE2 calls
      s.sql("""
        SELECT doc_id, x.vowelless, x.n_numbers
        FROM documents
        LATERAL VIEW jq(to_json(named_struct('t', text)),
          '{vowelless: (.t | gsub("[aeiou]"; "_") | .[0:40]), n_numbers: (.t | [match("[0-9]+"; "g")] | length)}',
          'vowelless:string', 'n_numbers:int') x
        ORDER BY doc_id""")
    },
    "rel_q13_custdist" -> { (s, dir) =>
      prep(s, dir, "customer", "orders")
      // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
      // join (customers with zero orders must appear) + double aggregation
      s.sql("""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
              FROM customer c
              LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                                AND o.o_orderpriority <> '5-LOW'
              GROUP BY c.c_custkey) t
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")
    },
    "rel_q17_small_qty" -> { (s, dir) =>
      prep(s, dir, "part", "lineitem")
      // TPC-H Q17 shape: lineitems below 20% of their part's average
      // quantity — per-part avg as an exact integer comparison
      // (5 * qty < sum/count ⟺ 5 * qty * count < sum, all BIGINT)
      s.sql("""
        SELECT CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN (SELECT l_partkey,
                     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
                     CAST(count(*) AS BIGINT) AS qty_n
              FROM lineitem GROUP BY l_partkey) a
          ON a.l_partkey = l.l_partkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND 5 * CAST(l.l_quantity AS BIGINT) * a.qty_n < a.qty_sum""")
    },
    "rel_q22_global_sales" -> { (s, dir) =>
      prep(s, dir, "customer", "orders")
      // TPC-H Q22 shape: above-average-balance customers with NO orders —
      // "bal > avg" tested as cents·n > sum (pure BIGINT — an avg would be
      // one float division per engine and can drift a ulp) + anti join
      s.sql("""
        WITH pos AS (SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
                            CAST(count(*) AS BIGINT) AS n
                     FROM customer WHERE c_acctbal > 0)
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS totacctbal_cents
        FROM customer c CROSS JOIN pos
        WHERE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) * pos.n > pos.s
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment""")
    },
    "rel_q2_min_cost" -> { (s, dir) =>
      prep(s, dir, "part", "supplier", "nation", "region", "lineitem")
      // TPC-H Q2 shape: minimum-cost supplier per part over a derived cost
      // relation (the partsupp table doesn't exist in this schema, so
      // per-(part, supplier) min line price in cents stands in for
      // ps_supplycost). The textbook correlated scalar-MIN subquery
      // REFERENCES the costs CTE twice, and Spark evaluates both copies —
      // two full lineitem joins (plan-asserted in r4/r6 audits, no
      // ReusedExchange). Rewritten as a window-min over ONE costs pass:
      // same rows, one lineitem scan, one extra per-partkey exchange
      // instead of a second 4-table join.
      s.sql("""
        WITH costs AS (
          SELECT l.l_partkey, s.s_suppkey, s.s_name,
                 CAST(min(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cost_cents
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          WHERE r.r_name = 'ASIA'
          GROUP BY l.l_partkey, s.s_suppkey, s.s_name),
        ranked AS (
          SELECT l_partkey, s_suppkey, s_name, cost_cents,
                 min(cost_cents) OVER (PARTITION BY l_partkey) AS min_cents
          FROM costs)
        SELECT p.p_partkey, p.p_brand, c.s_suppkey, c.s_name, c.cost_cents
        FROM part p
        JOIN ranked c ON c.l_partkey = p.p_partkey
        WHERE p.p_size IN (5, 10, 23)
          AND c.cost_cents = c.min_cents
        ORDER BY c.cost_cents, p.p_partkey, c.s_suppkey
        LIMIT 100""")
    },
    "rel_q8_market_share" -> { (s, dir) =>
      prep(s, dir, "part", "supplier", "customer", "orders", "lineitem", "nation", "region")
      // TPC-H Q8 shape: a nation's yearly market share inside a region —
      // 7-table join, conditional numerator, share as integer ppm
      // (1e6·nation_cents DIV total_cents — no cross-engine float division)
      s.sql("""
        WITH vol AS (
          SELECT year(o.o_orderdate) AS o_year,
                 CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS vol_cents,
                 n2.n_name AS supp_nation
          FROM lineitem l
          JOIN part p ON p.p_partkey = l.l_partkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n1.n_regionkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
          WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
        SELECT o_year,
               CAST((1000000 * sum(CASE WHEN supp_nation = 'NATION_1' THEN vol_cents ELSE 0 END))
                    DIV sum(vol_cents) AS BIGINT) AS share_ppm,
               CAST(sum(vol_cents) AS BIGINT) AS total_cents
        FROM vol
        GROUP BY o_year
        ORDER BY o_year""")
    },
    "rel_q9_profit" -> { (s, dir) =>
      prep(s, dir, "part", "supplier", "orders", "lineitem", "nation")
      // TPC-H Q9 shape: profit by supplier nation and year over a
      // name-pattern part slice; cost side is retailprice·quantity cents
      // (no partsupp here) so profit stays pure-BIGINT on both engines
      s.sql("""
        SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                        - ((CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT)
                            * CAST(l.l_quantity AS BIGINT)) DIV 10)) AS BIGINT) AS profit_cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY n.n_name, year(o.o_orderdate)
        ORDER BY nation, o_year DESC""")
    },
    "rel_q11_important_stock" -> { (s, dir) =>
      prep(s, dir, "supplier", "lineitem", "nation")
      // TPC-H Q11 shape: groups whose value exceeds a FRACTION of the
      // global total (scalar-subquery HAVING) — part revenue via one
      // nation's suppliers, threshold 1/10000 of the grand total, all BIGINT
      s.sql("""
        WITH v AS (
          SELECT l.l_partkey,
                 CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS val_cents
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
          GROUP BY l.l_partkey)
        SELECT l_partkey, val_cents
        FROM v
        WHERE 10000 * val_cents > (SELECT sum(val_cents) FROM v)
        ORDER BY val_cents DESC, l_partkey""")
    },
    "rel_q20_excess_supply" -> { (s, dir) =>
      prep(s, dir, "supplier", "lineitem", "nation")
      // TPC-H Q20 shape: nested semi-joins against an aggregate threshold —
      // suppliers who shipped MORE THAN TWICE the average supplier's share
      // of some part (availqty > threshold·moved, recast on shipped volumes
      // relative to the part's average so the predicate is scale-invariant:
      // a fixed fraction-of-total empties out as supplier count grows).
      // The per-part total/count is a WINDOW over the ps aggregate, not a
      // second CTE reference (ps JOIN pt re-evaluated ps — two lineitem
      // scans, no ReusedExchange; plan-asserted): one lineitem pass, one
      // per-partkey exchange.
      s.sql("""
        WITH ps AS (SELECT l_partkey, l_suppkey,
                           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
                    FROM lineitem GROUP BY l_partkey, l_suppkey),
             w AS (SELECT l_suppkey, qty,
                          CAST(sum(qty) OVER (PARTITION BY l_partkey) AS BIGINT) AS total,
                          CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS ns
                   FROM ps)
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        WHERE s.s_suppkey IN (SELECT l_suppkey FROM w WHERE qty * ns > 2 * total)
          AND s.s_nationkey IN (SELECT n_nationkey FROM nation
                                WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4'))
        ORDER BY s.s_suppkey""")
    },
    "rel_q21_waiting" -> { (s, dir) =>
      prep(s, dir, "supplier", "orders", "lineitem", "nation")
      // TPC-H Q21 shape: EXISTS + correlated NOT EXISTS over the same fact
      // table — suppliers who were the ONLY late shipper on a multi-supplier
      // finished order ("late" = shipped >30 days after the order date;
      // this schema has no commit/receipt dates)
      s.sql("""
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE o.o_orderstatus = 'F'
          AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name""")
    },
    "rel_range_join" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // point-in-interval range join WITHOUT an inequality join: 7-day
      // "promotion windows" (sampled orders) matched against every
      // lineitem ship date via the binned equi-join (see Relational.rangeJoin)
      val epoch = lit("1970-01-01").cast("date")
      val intervals = s.table("orders").where(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("window_id"),
          datediff(col("o_orderdate"), epoch).cast("long").as("start_day"))
        .withColumn("end_day", col("start_day") + 7)
      val points = s.table("lineitem")
        .select(datediff(col("l_shipdate"), epoch).cast("long").as("ship_day"),
          col("l_quantity"))
      pipeline.Relational.rangeJoin(points, intervals,
          "ship_day", "start_day", "end_day", bin = 7L)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("window_id")
    },
    "rel_exists_semi" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      s.sql("""
        SELECT o_orderstatus, count(*) AS n
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    "rel_not_exists_anti" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    "rel_window_topn" -> { (s, dir) =>
      prep(s, dir, "customer", "orders")
      s.sql("""
        SELECT c_mktsegment, rn, o_orderkey, price_cents
        FROM (
          SELECT c.c_mktsegment,
                 row_number() OVER (PARTITION BY c.c_mktsegment
                                    ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn,
                 o.o_orderkey,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        ) WHERE rn <= 3
        ORDER BY c_mktsegment, rn""")
    },
    "rel_distinct_parts" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      s.sql("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supp
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    "rel_rollup" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // grouping-sets surface; subtotal NULLs coalesced so null-ordering
      // differences between engines can't affect the sort
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY rflag, lstatus""")
    },
    "rel_setops" -> { (s, dir) =>
      prep(s, dir, "orders")
      s.sql("""
        SELECT 'both_years' AS k, count(*) AS n FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
          INTERSECT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998) t1
        UNION ALL
        SELECT 'only_1998' AS k, count(*) AS n FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
          EXCEPT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997) t2
        ORDER BY k""")
    },
    "rel_percentiles" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // exact percentiles with linear interpolation (R-7, same rule as
      // DuckDB quantile_cont), quantized for cross-engine hashing
      s.sql("""
        SELECT l_returnflag,
               CAST(floor(ps[0] * 100 + 0.5) AS BIGINT) AS p25_c,
               CAST(floor(ps[1] * 100 + 0.5) AS BIGINT) AS p50_c,
               CAST(floor(ps[2] * 100 + 0.5) AS BIGINT) AS p75_c
        FROM (SELECT l_returnflag,
                     percentile(l_quantity, array(0.25, 0.5, 0.75)) AS ps
              FROM lineitem GROUP BY l_returnflag)
        ORDER BY l_returnflag""")
    },
    "rel_quantile_buckets" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // equal-frequency discretizer: 8 exact-percentile price buckets,
      // boundary pass + pure-map assignment (no window, no join)
      val cents = expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
      pipeline.Relational.quantileBuckets(s.table("lineitem"),
          "l_extendedprice", nBuckets = 8)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min(cents).as("min_cents"),
          max(cents).as("max_cents"))
        .orderBy("bucket")
    },
    "rel_winsorize" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // outlier trim: prices clamped to exact [p05, p95] before the sum a
      // heavy tail would otherwise own
      pipeline.Relational.winsorize(s.table("lineitem"), "l_extendedprice",
          0.05, 0.95)
        .groupBy("l_returnflag")
        .agg(sum("winsorized_cents").as("w_cents"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
    "rel_pivot" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // DataFrame pivot with explicit value list (stable columns)
      s.table("lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).cast("long").as("f_cents"),
          coalesce(col("O"), lit(0L)).cast("long").as("o_cents"))
        .orderBy("l_returnflag")
    },
    "rel_unpivot" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // melt/unpivot (pivot's inverse): the per-flag wide metrics frame
      // goes long as (flag, metric, amount) — Spark's native unpivot,
      // which stays a pure map over the aggregated frame (no explode join)
      val wide = s.table("lineitem").groupBy(col("l_returnflag"))
        .agg(sum(expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)")).as("qty_cents"),
          sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("price_cents"),
          sum(expr("CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT)")).as("disc_ppm"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("qty_cents"), col("price_cents"), col("disc_ppm")),
          "metric", "amount")
        .orderBy("l_returnflag", "metric")
    },
    "rel_topk_agg" -> { (s, dir) =>
      prep(s, dir, "customer", "orders")
      // grouped top-k via the bounded two-phase TopKPairs aggregate — same
      // answer as a row_number window, but no reducer ever sees a whole
      // group (map-side partial top-k)
      val joined = s.sql("""
        SELECT c.c_mktsegment, o.o_orderkey,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey""")
      graft.functions.TopKPairs.perGroup(
          joined, Seq("c_mktsegment"), "price_cents", "o_orderkey", k = 3)
        .select(col("c_mktsegment"), col("rank"),
          col("id").as("o_orderkey"), col("score").as("price_cents"))
        .orderBy("c_mktsegment", "rank")
    },
    "rel_asof_join" -> { (s, dir) =>
      prep(s, dir, "events")
      // as-of join: each purchase matched to the user's latest view at or
      // before it (nulls where no view precedes) — one co-partitioned sort,
      // no inequality join; DuckDB mirrors with a native ASOF LEFT JOIN
      val events = s.table("events")
      val purchases = events.where(col("event_type") === "purchase")
      val views = events.where(col("event_type") === "view")
      pipeline.Relational.asofJoin(purchases, views, Seq("user_id"),
          "ts", "ts", "event_id", rightCols = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("event_id_asof"),
          floor(col("value_asof") * 100 + 0.5).cast("long").as("view_cents"))
        .orderBy("event_id")
    },
    "rel_salted_distinct" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // skew-safe exact distinct: per-salt distinct counts are disjoint and
      // sum to the global count — same result as COUNT(DISTINCT) (oracle)
      pipeline.Skew.saltedDistinct(s.table("lineitem"),
          Seq("l_returnflag"), "l_partkey", salts = 16, resultCol = "n_parts")
        .withColumn("n_parts", col("n_parts").cast("long"))
        .orderBy("l_returnflag")
    },
    "rel_salted_sum" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      pipeline.Skew.saltedSum(s.table("lineitem"), Seq("l_returnflag"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
          salts = 16, resultCol = "cents")
        .withColumn("cents", col("cents").cast("long"))
        .orderBy("l_returnflag")
    },
    "rel_skew_join" -> { (s, dir) =>
      prep(s, dir, "lineitem", "supplier", "nation")
      // salt-and-replicate equi join: lineitem (big, hot suppkeys) against
      // supplier without broadcasting and without one-reducer hot keys;
      // result must equal the plain join bit-for-bit
      val li = s.table("lineitem").select(col("l_suppkey").as("s_suppkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      val sup = s.table("supplier").join(s.table("nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      pipeline.Skew.replicatedJoin(li, sup, Seq("s_suppkey"), replication = 8)
        .groupBy("n_name").agg(sum(col("cents")).as("revenue_cents"),
          count(lit(1)).as("n"))
        .orderBy("n_name")
    },
    // ---- LLM-pipeline ops (SURVEY §2.4) ---------------------------------
    "dedup_exact" -> { (s, dir) =>
      prep(s, dir, "documents")
      val d = pipeline.Dedup.exact(s.table("documents"), "doc_id", "text")
      d.agg(
        count("*").cast("long").as("n_docs"),
        sum(when(col("is_duplicate"), 1L).otherwise(0L)).cast("long").as("n_dup"))
        .withColumn("n_unique", col("n_docs") - col("n_dup"))
        .select("n_docs", "n_dup", "n_unique")
    },
    "dedup_ngram_jaccard" -> { (s, dir) =>
      prep(s, dir, "documents")
      // consecutive-pair jaccard ([[docPairJaccard]])
      docPairJaccard(s)
        .withColumn("is_dup", (col("n_int") * 10 >= col("n_union") * 8).cast("boolean"))
        .select("a", "b", "n_int", "n_union", "is_dup")
        .orderBy("a")
    },
    "dedup_simjoin_exact" -> { (s, dir) =>
      prep(s, dir, "documents")
      // EXACT threshold similarity self-join (prefix filtering): every
      // doc pair with word-4-gram Jaccard >= 0.8, zero recall loss — the
      // oracle runs the quadratic cross join this operator avoids. Word
      // grams, not char-3: this corpus has only ~400 live char-3-grams,
      // which saturates every prefix bucket and degenerated the candidate
      // join to all-pairs (67 s at sf0.1); word 4-grams are near-unique
      // (df ~1.2) so candidates collapse to the true near-dup pairs
      pipeline.Dedup.similarityJoinWords(s.table("documents"), "doc_id", "text",
          thresholdPct = 80, gramWords = 4)
        .orderBy("a", "b")
    },
    "dedup_containment" -> { (s, dir) =>
      prep(s, dir, "documents")
      // quote/excerpt detection: plant a 25-word excerpt of every doc as a
      // new "quote" doc, then find (contained, container) pairs at 90%
      // word-4-gram containment — the asymmetric relation Jaccard misses
      // (a short quote inside a long page has near-zero Jaccard); the
      // oracle runs the ordered quadratic cross join the operator avoids
      val docs = s.table("documents").select("doc_id", "text")
      val quotes = docs.select((col("doc_id") + 100000L).as("doc_id"),
        array_join(slice(filter(split(col("text"), "\\s+"),
          w => length(w) > 0), 1, 25), " ").as("text"))
      pipeline.Dedup.containmentJoinWords(docs.union(quotes), "doc_id", "text",
          thresholdPct = 90, gramWords = 4)
        .orderBy("a", "b")
    },
    "events_transitions" -> { (s, dir) =>
      prep(s, dir, "events")
      // per-user next-event transition counts — the behavioral adjacency
      // matrix the funnel/retention queries summarize; deterministic
      // successor via the (ts, event_id) tie-break
      s.table("events")
        .withColumn("next_type",
          expr("lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)"))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("from_type", "to_type")
    },
    "events_top_paths" -> { (s, dir) =>
      prep(s, dir, "events")
      // clickstream path census: per-user ordered event-type TRIGRAMS with
      // both hops inside 30 minutes (a path is one sitting, not events a
      // week apart) — the sequence-level census events_transitions' 1-step
      // matrix cannot see; top-15 with deterministic path tie-break.
      // Plan: two leads on ONE user-partitioned window exchange, then a
      // partial-aggregated census over at most |types|^3 groups
      s.sql("""
        WITH o AS (
          SELECT event_type, ts,
                 lead(event_type, 1) OVER w AS t2,
                 lead(event_type, 2) OVER w AS t3,
                 lead(ts, 1) OVER w AS ts2,
                 lead(ts, 2) OVER w AS ts3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT concat(event_type, '>', t2, '>', t3) AS path, count(*) AS n
        FROM o
        WHERE t3 IS NOT NULL
          AND ts2 <= ts + INTERVAL 30 MINUTES
          AND ts3 <= ts2 + INTERVAL 30 MINUTES
        GROUP BY 1 ORDER BY n DESC, path LIMIT 15""")
    },
    "events_attribution_position" -> { (s, dir) =>
      prep(s, dir, "events")
      // U-shaped (position-based) multi-touch attribution — the
      // multi-touch completion of events_attribution's last-touch rule:
      // each purchase spreads its cents over ALL views in its 7-day
      // lookback, 40% to the first touch, 40% to the last, 20% split
      // evenly across the middles. Shares are integer MICROS and the
      // split remainder rides on the FIRST touch, so every attributed
      // purchase allocates exactly 1e6 micros (1 touch = 100%, 2 =
      // 50/50); viewless purchases stay visible as the NULL bucket.
      // Plan: the purchase-view lookback join shuffles both sides once
      // on user_id; position windows partition by purchase (bounded by
      // the lookback); the anti-join NULL bucket reuses the same frames
      s.sql("""
        WITH v AS (SELECT user_id, ts, event_id,
                     CAST(x.k % 5 AS BIGINT) AS campaign
                   FROM events LATERAL VIEW jq(props, '{k}', 'k:int') x
                   WHERE event_type = 'view'),
             p AS (SELECT user_id, ts, event_id,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                   FROM events WHERE event_type = 'purchase'),
             t AS (SELECT p.event_id AS pid, p.cents, v.campaign,
                     row_number() OVER (PARTITION BY p.event_id
                                        ORDER BY v.ts, v.event_id) AS i,
                     count(*) OVER (PARTITION BY p.event_id) AS m
                   FROM p JOIN v ON v.user_id = p.user_id
                     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 7 DAYS),
             sh AS (SELECT pid, cents, campaign,
                      CASE WHEN m = 1 THEN 1000000L
                           WHEN m = 2 THEN 500000L
                           WHEN i = 1 THEN 400000L + 200000L % (m - 2)
                           WHEN i = m THEN 400000L
                           ELSE 200000L DIV (m - 2) END AS share_ppm
                    FROM t),
             alloc AS (SELECT campaign, cents * share_ppm AS micros FROM sh
                       UNION ALL
                       SELECT CAST(NULL AS BIGINT) AS campaign,
                              cents * 1000000L AS micros
                       FROM p WHERE NOT EXISTS (
                         SELECT 1 FROM t WHERE t.pid = p.event_id))
        SELECT campaign, count(*) AS n_touches,
               CAST(sum(micros) AS BIGINT) AS attributed_micros
        FROM alloc GROUP BY campaign ORDER BY campaign NULLS FIRST""")
    },
    "events_markov_attribution" -> { (s, dir) =>
      prep(s, dir, "events")
      // r13: Markov-chain removal-effect attribution — the data-driven
      // member of the attribution trio (last-touch asof, U-shaped
      // position, now Anderl et al. '16): first-order chain over per-user
      // view-campaign journeys, conversion probability by exact ppm value
      // iteration, each campaign credited by how much conversion drops
      // when transitions into it are redirected to NULL. Journey build +
      // transition counts are distributed; the <= 8-state solve is
      // driver-bounded (the BPE-merge contract).
      val touches = s.sql("""
        SELECT user_id, ts, event_id, CAST(x.k % 5 AS BIGINT) AS campaign
        FROM events LATERAL VIEW jq(props, '{k}', 'k:int') x
        WHERE event_type = 'view'""")
      val conv = s.sql("""
        SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'""")
      pipeline.Attribution.markovRemovalEffects(touches, "user_id", "ts",
          "event_id", "campaign", conv, "cents", iters = 16)
        .withColumnRenamed("channel", "campaign")
        .orderBy("campaign")
    },
    "rel_anova" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r13: one-way ANOVA F across return flags — the parametric
      // companion of rel_kruskal on the same grouping, with the eta²
      // effect size a bare test statistic hides
      val li = s.table("lineitem").select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      pipeline.Relational.anovaF(li, "l_returnflag", "cents")
    },
    "events_mde" -> { (s, dir) =>
      prep(s, dir, "events")
      // r14: minimum-detectable-effect readout per event type at the
      // industry-default 5%/80% — what effect size could this traffic
      // even see, BEFORE a test runs; parity arms, pinned-literal normal
      // quantiles, exact DECIMAL moments
      val ev = s.table("events").where(col("value").isNotNull)
        .select(col("event_type"), (col("user_id") % 2).as("arm"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      pipeline.Relational.mdeReadout(ev, "event_type", "arm", "cents")
        .orderBy("event_type")
    },
    "events_sprt" -> { (s, dir) =>
      prep(s, dir, "events")
      // r15: Wald SPRT — the SEQUENTIAL conversion test (evaluate after
      // every batch; peeking stays valid) over a literal conversion
      // rule (value >= 5.00), H0 p=0.25 vs H1 p=0.30 at 5%/20%; the
      // log constants are pinned driver-side literals spliced into
      // both engines, so the double arithmetic is identical
      val ev = s.table("events")
        .select(col("event_type"),
          when(col("value").isNotNull &&
            floor(col("value") * 100 + 0.5) >= 500L, 1L).otherwise(0L)
            .as("converted"))
      pipeline.Relational.sprt(ev, "event_type", "converted",
          p0 = 0.25, p1 = 0.30)
        .orderBy("event_type")
    },
    "events_power_curve" -> { (s, dir) =>
      prep(s, dir, "events")
      // r15: inverse-MDE power curve (the events_mde composition) — per
      // event type, the users-per-arm a test needs to SEE a 1/2/5/10%
      // relative effect at 5%/80%, off the same exact DECIMAL moments
      // as events_mde; one aggregation pass, effects as a literal grid
      val ev = s.table("events").where(col("value").isNotNull)
        .select(col("event_type"), (col("user_id") % 2).as("arm"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      pipeline.Relational.powerCurve(ev, "event_type", "arm", "cents")
        .orderBy("event_type", "effect_ppm")
    },
    "rel_fdr_bh" -> { (s, dir) =>
      prep(s, dir, "nation")
      // r14: Benjamini-Hochberg step-up FDR screen over a 25-hypothesis
      // battery (one per nation) — planted p-values (md5-h60 uniform
      // nulls + five strong effects + one disarmed NULL) exercise the
      // step-up cutoff, the NULL exclusion, and the cross-multiplied
      // integer thresholds; alpha = 10%
      val h = expr("CAST(conv(substr(md5(concat('fdr:', " +
        "CAST(n_nationkey AS STRING))), 1, 15), 16, 10) AS BIGINT)")
      val hyp = s.table("nation").select(
        col("n_nationkey").cast("long").as("seg"),
        when(col("n_nationkey") === 7, lit(null).cast("long"))
          .when(col("n_nationkey") % 5 === 0, h % 2000)
          .otherwise(h % 1000001).as("p_ppm"))
      pipeline.Relational.bhFdrScreen(hyp, "seg", "p_ppm", alphaPpm = 100000)
        .orderBy("id")
    },
    "rel_theil" -> { (s, dir) =>
      prep(s, dir, "orders", "customer")
      // r13: Theil-T inequality decomposition of order spend across
      // market segments — between-vs-within in the lg64 grade; the
      // additive split pipeline_gini's one number cannot give
      val amounts = s.table("orders")
        .join(s.table("customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      pipeline.Relational.theilDecomposition(amounts, "c_mktsegment", "cents")
        .orderBy("c_mktsegment")
    },
    "events_did" -> { (s, dir) =>
      prep(s, dir, "events")
      // r13: difference-in-differences — per-user purchase cents in the
      // pre/post halves of the time axis (median-micros cutoff, the
      // temporalSplit idiom), parity arms, both periods zero-filled per
      // user so inactive periods count as real zeros
      val ev = s.table("events")
      val cuts = ev.agg(expr(
        "CAST(floor(percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)) AS BIGINT)")
        .as("__cut"))
      val purch = ev.where(col("event_type") === "purchase")
        .crossJoin(broadcast(cuts))
        .select(col("user_id"),
          when(unix_micros(col("ts").cast("timestamp")) <= col("__cut"), 0L)
            .otherwise(1L).as("period"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .groupBy("user_id", "period").agg(sum("cents").as("cents"))
      val units = ev.select("user_id").distinct()
        .select(col("user_id"), explode(array(lit(0L), lit(1L))).as("period"))
      val cells = units.join(purch, Seq("user_id", "period"), "left")
        .select((col("user_id") % 2).as("arm"), col("period"),
          coalesce(col("cents"), lit(0L)).as("cents"))
      pipeline.Relational.diffInDiff(cells, "arm", "period", "cents")
        .orderBy("arm")
    },
    "events_cuped" -> { (s, dir) =>
      prep(s, dir, "events")
      // r13: CUPED variance-reduced A/B readout — per-user purchase cents
      // adjusted by the view-count covariate (θ pooled across arms); the
      // sensitivity upgrade over events_ab_test's raw proportions
      val per = s.sql("""
        SELECT user_id, user_id % 2 AS arm,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_views,
               sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS cents
        FROM events GROUP BY 1, 2""")
      pipeline.Relational.cuped(per, "arm", "n_views", "cents")
        .orderBy("arm")
    },
    "ts_croston" -> { (s, dir) =>
      prep(s, dir, "events")
      // r13: Croston intermittent-demand rate per user — separate EWMAs
      // of nonzero demand sizes and inter-demand intervals; the
      // forecasting rung EWMA/Holt miss on mostly-zero series
      pipeline.TimeSeries.croston(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id")
    },
    "rel_ols2" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r13: two-feature least squares per return flag — price on
      // (quantity, discount) with exact DECIMAL moments and the Cramer
      // solve at pinned IEEE points; the controlled-for completion of
      // rel_correlation's marginal association
      val li = s.table("lineitem").select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("qty100"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("disc100"))
      pipeline.Relational.ols2(li, Seq("l_returnflag"), "cents", "qty100", "disc100")
        .orderBy("l_returnflag")
    },
    "events_burstiness" -> { (s, dir) =>
      prep(s, dir, "events")
      // r13: Goh–Barabási burstiness per user — periodic (bot-like,
      // B→−1e6) vs bursty (human, B>0) inter-event signatures; micros
      // gaps, exact moments, IEEE sqrt only at the pinned final cast
      pipeline.TimeSeries.burstiness(s.table("events"), "user_id", "ts",
          "event_id", minGaps = 4)
        .orderBy("user_id")
    },
    "rel_bootstrap_ci" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // deterministic Poisson-bootstrap CI on mean extended price per
      // return flag — the error bar the A/B family's point estimates
      // lack; md5-derived Poisson(1) weights make the interval itself
      // hash-gateable (b=64 → the order-statistic envelope)
      val li = s.table("lineitem").select(col("l_returnflag"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_extendedprice"))
      pipeline.Relational.bootstrapMeanCi(li, Seq("l_returnflag"), "rid",
          "l_extendedprice", b = 64)
        .orderBy("l_returnflag")
    },
    "dedup_source_matrix" -> { (s, dir) =>
      prep(s, dir, "documents")
      // WHICH sources duplicate WHICH (composed): exact-Jaccard pairs
      // at >= 60 rolled up to an unordered source-pair matrix — the
      // recipe readout that says two feeds are mirrors BEFORE mixing
      val docs = s.table("documents")
      val pairs = pipeline.Dedup.similarityJoinWords(docs, "doc_id",
        "text", thresholdPct = 60, gramWords = 4)
      val src = docs.select(col("doc_id"), col("source"))
      pairs.join(src.as("sa"), col("a") === col("sa.doc_id"))
        .join(src.as("sb"), col("b") === col("sb.doc_id"))
        .groupBy(least(col("sa.source"), col("sb.source")).as("source_lo"),
          greatest(col("sa.source"), col("sb.source")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_lo", "source_hi")
    },
    "rel_correlation" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // Pearson correlation from INTEGER-exact moment sums: Σx Σy Σxy Σx²
      // Σy² aggregate exactly (cents-quantized longs summed in decimal —
      // merge-order-independent), and only the FINAL expression drops to
      // IEEE double (both engines cast the same exact decimals at the
      // same points → bit-identical), floored to 1e9 fixed point. The
      // cross-engine-stable form of corr(), whose float running
      // aggregate drifts with partition/merge order
      val x = floor(col("l_quantity") * 100 + 0.5).cast("long")
      val y = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      s.table("lineitem")
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
        .select(col("l_returnflag"),
          expr("""CAST(floor(1e9 *
              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
               sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT)""")
            .as("corr_e9"))
        .orderBy("l_returnflag")
    },
    "dedup_fuzzy_names" -> { (s, dir) =>
      prep(s, dir, "customer")
      // record linkage: customer-name pairs within ONE edit — deletion-
      // neighborhood blocking + exact levenshtein verify, never the
      // quadratic cross join the oracle runs
      pipeline.Dedup.editDistance1Pairs(s.table("customer"), "c_custkey", "c_name")
        .orderBy("a", "b")
    },
    "multimodal_phash_pairs" -> { (s, dir) =>
      prep(s, dir, "documents")
      // image near-dup, pixels REAL end-to-end: the builder writes actual
      // gray PNGs (JDK encoder) carrying a planted 9×8 grid ×4-replicated,
      // grayDHash decodes them with javax.imageio + box-downsamples back
      // to the grid, then the same Manku radius join the text simhash path
      // uses; planted groups-of-8 re-encodes surface at hamming <= 3
      val media = pipeline.Multimodal.synthesizeGridPayloads(
        s.table("documents"), "doc_id")
      val fps = pipeline.Multimodal.grayDHash(s, media)
      pipeline.Dedup.hamming64Pairs(fps, "doc_id", "dhash", maxHamming = 3)
        .orderBy("a", "b")
    },
    "dedup_minhash_pairs" -> { (s, dir) =>
      prep(s, dir, "documents")
      // LSH-blocked near-dup pairs, exact-Jaccard verified. HASH-GATED as
      // of r11: the md5-h60 × Mersenne-61 signature family is engine-
      // replayable, so the whole banding pipeline (signature → bucket →
      // skew guard → candidate join → verify) unrolls into the DuckDB
      // oracle. Recall floor additionally spec'd in PipelineSpec.
      pipeline.Dedup.minhashDedupPairs(s.table("documents"), "doc_id", "text",
          threshold = 0.8, numHashes = 128, bands = 16, shingle = 5)
        .withColumn("jacc_scaled", floor(col("jaccard") * 1e6).cast("long"))
        .select("a", "b", "jacc_scaled")
        .orderBy("a", "b")
    },
    "dedup_minhash_pr" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: the banding's own eval harness — production band candidates
      // vs EXACT prefix-filter ground truth at the same threshold/shingle
      // family; precision = wasted verify work, recall = what LSH misses.
      // The exact side runs on a FIXED 500-doc slice (the documented
      // audit contract: char-5 shingle prefixes saturate past a few
      // thousand docs and the truth join degenerates toward all-pairs —
      // the audit is the offline eval you run on the slice you can
      // afford; sf0.01 = the whole corpus, sf0.1 = its first 10%)
      pipeline.Dedup.bandingPrAudit(
        s.table("documents").where(col("doc_id") < 500), "doc_id", "text")
    },
    "pipeline_gini" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: Lorenz/Gini source-concentration — is the corpus a few
      // mega-domains; exact discrete Gini over per-source token totals
      pipeline.TextAnalysis.giniConcentration(s.table("documents"), "source", "text")
    },
    "dedup_simhash" -> { (s, dir) =>
      prep(s, dir, "documents")
      // fingerprints + combinatorially-blocked candidate pairs. HASH-GATED
      // as of r11 (60-bit md5-h60 distinct-shingle simhash replayed as 60
      // conditional sums + the same Manku key fold in the oracle).
      // maxHamming=3 is the radius the 6-choose-3 blocking GUARANTEES
      // (Manku et al. pigeonhole — see Dedup.simhashCandidates).
      pipeline.Dedup.simhashCandidates(s.table("documents"), "doc_id", "text",
          shingle = 5, maxHamming = 3)
        .orderBy("a", "b")
    },
    "dedup_golden_records" -> { (s, dir) =>
      prep(s, dir, "customer")
      // field-level survivorship after entity resolution: entities
      // simulated as custkey % 500 groups; majority-then-recency-then-
      // largest per field, each rule deterministic
      pipeline.Dedup.goldenRecords(
          s.table("customer").withColumn("grp", col("c_custkey") % 500),
          "grp", Seq("c_mktsegment", "c_nationkey"), "c_custkey")
        .orderBy("grp")
    },
    "dedup_groups" -> { (s, dir) =>
      prep(s, dir, "documents")
      // pairs → GROUPS: connected components over deterministic jaccard
      // edges (consecutive ids, integer-exact threshold 0.55); group_id =
      // min id of the component. DuckDB oracle: recursive-CTE closure
      // ([[docDupGroups]]).
      docDupGroups(s)
        .withColumnRenamed("id", "doc_id")
        .withColumn("group_id", col("group_id").cast("long"))
        .orderBy("doc_id")
    },
    "dedup_representatives" -> { (s, dir) =>
      prep(s, dir, "documents")
      // the end product of the dedup family: the corpus AFTER near-dup
      // removal — one representative (min id) kept per connected group
      // ([[docDupGroups]])
      val docs = s.table("documents")
      val groups = docDupGroups(s)
      docs.join(groups.where(col("id") === col("group_id"))
          .select(col("id").as("doc_id")), "doc_id")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    "dedup_embedding_cosine" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      val emb = s.table("embeddings")
      val pairs = emb.select(col("vec_id").as("a"), (col("vec_id") + 1).as("b"))
        .join(emb.select(col("vec_id").as("b")), "b")
      pipeline.Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", pairs, threshold = -2.0)
        .withColumn("cos_scaled", floor(col("cos") * 1e9).cast("long"))
        .select("a", "b", "cos_scaled")
        .orderBy("a")
    },
    "ann_bruteforce_topk" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      val emb = s.table("embeddings")
      pipeline.Similarity.bruteForceTopK(
          emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    },
    "ann_lsh_topk" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // multi-probe LSH ANN. HASH-GATED as of r11: the registered variant
      // is lshTopKExact — md5-h60-derived INTEGER hyperplanes over the
      // quantized vector, exact integer margins with plane-index ties —
      // so planes → sign buckets → margin-ranked probes → bucket join →
      // quantized-cosine rerank replay end-to-end in DuckDB. The recall
      // floor is measured in PipelineSpec
      val emb = s.table("embeddings")
      pipeline.Similarity.lshTopKExact(
          emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    },
    "emb_dim_audit" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // dead/collapsed-dimension detector: exact per-dim moments over the
      // quantized components — DECIMAL sums, variance bounded by max q²
      pipeline.Similarity.dimAudit(s.table("embeddings"), "embedding")
        .orderBy("dim")
    },
    "text_mojibake" -> { (s, dir) =>
      prep(s, dir, "documents")
      // encoding-damage audit: replacement chars, C1 controls, classic
      // UTF-8-as-Latin-1 digraphs — pure codegen'd regex counts. The
      // corpus is clean, so damage is PLANTED on 2-in-5 docs (the
      // script-profile convention): a "Ã©"+U+FFFD doc and a C1+"â€"
      // doc; the rest must read clean
      val planted = s.table("documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" caf\u00C3\u00A9 \uFFFD"))
            .when(col("doc_id") % 5 === 1, lit(" \u0085x\u00E2\u20AC"))
            .otherwise(lit(""))))
      pipeline.TextAnalysis.mojibakeAudit(planted, "doc_id", "text")
        .orderBy("doc_id")
    },
    "emb_kmeans" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // distributed integer Lloyd k-means: deterministic md5 seeding,
      // exact integer squared-Euclidean metric, 3 update rounds — the
      // corpus-scale unsupervised twin of classPrototypes
      pipeline.Clustering.kmeansAssign(s.table("embeddings"),
          "vec_id", "embedding", k = 8, rounds = 3)
        .orderBy("vec_id")
    },
    "emb_silhouette" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // r13: simplified silhouette per cluster — clustering-quality
      // readout over the same k=8 / 3-round kmeans; a(i)/b(i) against
      // centroids only, so the per-row work is a fold over the frozen
      // centroid literal (no join, no shuffle — the kmeansScore shape)
      pipeline.Clustering.kmeansSilhouette(s.table("embeddings"),
          "vec_id", "embedding", k = 8, rounds = 3)
        .orderBy("cluster")
    },
    "emb_quantize" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // int8 serving-export pre-flight: per-dimension symmetric scale +
      // exact reconstruction-error profile of (q·127) DIV scale — the
      // dimension whose max_err dwarfs the rest doesn't survive int8
      pipeline.Similarity.int8QuantAudit(s.table("embeddings"),
          "vec_id", "embedding")
        .orderBy("dim")
    },
    "emb_coreset" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // k-center greedy coverage coreset (Gonzalez '85 farthest-point):
      // the 8 vectors that COVER the space, with the non-increasing
      // coverage-radius curve — diversity sampling where random picks
      // oversample dense regions
      pipeline.Similarity.kCenterCoreset(s.table("embeddings"),
          "vec_id", "embedding", k = 8)
        .orderBy("rank")
    },
    "emb_kmeans_purity" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // did the unsupervised clustering find the LABEL structure?
      // per-cluster majority-label purity ppm (ties → smallest label,
      // the labelPropagation argmax convention)
      val assign = pipeline.Clustering.kmeansAssign(s.table("embeddings"),
        "vec_id", "embedding", k = 8, rounds = 3)
      val lab = s.table("embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
      assign.join(lab, "vec_id")
        .groupBy("cluster", "label").agg(count(lit(1)).as("__n"))
        .groupBy("cluster")
        .agg(sum(col("__n")).as("n_members"),
          max(struct(col("__n").as("n"), (-col("label")).as("nl"))).as("__b"))
        .select(col("cluster"), col("n_members"),
          (-col("__b.nl")).as("majority_label"),
          col("__b.n").as("n_majority"),
          expr("CAST((__b.n * 1000000) DIV n_members AS BIGINT)")
            .as("purity_ppm"))
        .orderBy("cluster")
    },
    "emb_kmeans_summary" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // per-cluster size + mean inertia off the same clustering — the
      // "did the clustering find structure" readout
      pipeline.Clustering.kmeansSummary(s.table("embeddings"),
          "vec_id", "embedding", k = 8, rounds = 3)
        .orderBy("cluster")
    },
    "dedup_semantic" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // SemDeDup: k-means-blocked embedding near-dup flags. HASH-GATED as
      // of r11: the integer-exact quantizer (the emb_mutual_pairs_blocked
      // unroll) + quantized-cosine pairing replay end-to-end in DuckDB;
      // planted-pair behavior and the maxCluster guard stay spec'd in
      // PipelineSpec
      pipeline.Dedup.semanticDedup(s.table("embeddings"), "vec_id", "embedding",
          threshold = 0.995, nClusters = 16)
        .orderBy("vec_id")
    },
    "ann_ivf_topk" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // IVF coarse-quantizer ANN. HASH-GATED as of r11: the registered
      // variant is ivfTopKExact (the integer-exact quantizer the
      // emb_mutual_pairs_blocked unroll already pins), so sample → Lloyd
      // rounds → probing → ranked cosine replay end-to-end in DuckDB.
      // The float-quantizer ivfTopK stays as the in-job reference the
      // persisted IVF index is compared against; recall floors for both
      // are measured in PipelineSpec
      val emb = s.table("embeddings")
      pipeline.Similarity.ivfTopKExact(
          emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10,
          nLists = 16, nProbe = 10)
        .orderBy("query_id", "rank")
    },
    "ann_pca_topk" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // PCA-reduced ANN. HASH-GATED as of r12 (the last deterministic
      // rows-only holdout): the registered variant is pcaTopKExact —
      // integer scatter matrix, BigInt power iteration with
      // truncating-DIV rescale, integer Rayleigh deflation, integer
      // projected-dot shortlist, exact rerank — so the model, shortlist
      // and ranking replay end-to-end in DuckDB. The recall floor is
      // pinned in PcaSpec
      val emb = s.table("embeddings")
      pipeline.Similarity.pcaTopKExact(
          emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10,
          r = 16, iters = 24, expand = 24)
        .orderBy("query_id", "rank")
    },
    "ann_pq_topk" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // product-quantization ADC scan + exact rerank. HASH-GATED as of
      // r11: the registered variant is pqTopKExact — md5-h60 sample
      // order, per-subspace pure-long Lloyd codebooks, integer
      // codes/LUTs/ADC — so training, compression, the shortlist and
      // the rerank all replay in DuckDB. The recall floor is measured
      // in PipelineSpec
      val emb = s.table("embeddings")
      pipeline.Similarity.pqTopKExact(
          emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    },
    // r11 (VERDICT Next #2): recall-vs-brute-force METRIC queries for the
    // approximate top-k family. The ranked lists themselves are lossy by
    // design (the honest rows-only declaration), but recall@10 against the
    // in-registry brute-force twin is a DETERMINISTIC integer — both
    // inputs are deterministic functions of the seed-42 testdata — so the
    // metric hash-gates against pinned oracle literals, with the family's
    // floor asserted IN the oracle (a pinned value below the floor would
    // drop from the oracle's row set and fail the gate at authoring time).
    // Any engine change that shifts an ANN ranking now names itself as a
    // recall delta instead of hiding behind "rows-only".
    "ann_lsh_recall" -> ((s, dir) => annRecall(s, dir,
      (emb, q) => pipeline.Similarity.lshTopKExact(emb, q, "vec_id", "embedding", k = 10))),
    "ann_ivf_recall" -> ((s, dir) => annRecall(s, dir,
      (emb, q) => pipeline.Similarity.ivfTopKExact(emb, q, "vec_id", "embedding", k = 10,
        nLists = 16, nProbe = 10))),
    "ann_pq_recall" -> ((s, dir) => annRecall(s, dir,
      (emb, q) => pipeline.Similarity.pqTopKExact(emb, q, "vec_id", "embedding", k = 10))),
    "ann_pca_recall" -> ((s, dir) => annRecall(s, dir,
      (emb, q) => pipeline.Similarity.pcaTopKExact(emb, q, "vec_id", "embedding",
        k = 10, r = 16, iters = 24, expand = 24))),
    // r14: MATRYOSHKA truncation audit — recall@10 of plain PREFIX
    // truncation to 16 of 64 dims (the MRL serving decision: ship the
    // first quarter of every embedding and keep how much of the
    // ranking?) vs the full-dim brute force. Unlike PCA's learned
    // basis at the same r = 16, the untrained prefix keeps whatever
    // the generator put in the leading dims — the two queries TOGETHER
    // answer "is a learned projection worth it on this corpus"
    "emb_matryoshka_recall" -> ((s, dir) => annRecall(s, dir,
      (emb, q) => {
        def trunc(df: DataFrame) =
          df.withColumn("embedding", expr("slice(embedding, 1, 16)"))
        pipeline.Similarity.bruteForceTopK(trunc(emb), trunc(q),
          "vec_id", "embedding", k = 10)
      })),
    "text_langid" -> { (s, dir) =>
      prep(s, dir, "documents")
      s.table("documents")
        .select(col("doc_id"), pipeline.TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
    "text_rater_agreement" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: label-stability QA — three deterministic raters (language ID
      // on the full text, its first half, its second half) vote per doc;
      // Fleiss' kappa says whether the label survives seeing less of the
      // document (the annotation-consistency check, Fleiss '71)
      val d = s.table("documents")
      val full = d.select(col("doc_id"),
        pipeline.TextAnalysis.langId(col("text")).as("lang"))
      val h1 = d.select(col("doc_id"), pipeline.TextAnalysis.langId(
        expr("substring(text, 1, CAST(floor(length(text) / 2) AS INT))")).as("lang"))
      val h2 = d.select(col("doc_id"), pipeline.TextAnalysis.langId(
        expr("substring(text, CAST(floor(length(text) / 2) AS INT) + 1)")).as("lang"))
      pipeline.Relational.fleissKappa(full.union(h1).union(h2), "doc_id", "lang")
    },
    "text_quality" -> { (s, dir) =>
      prep(s, dir, "documents")
      pipeline.TextAnalysis.qualityScore(s.table("documents"), "text")
        .select("doc_id", "n_words", "n_punct", "n_stopwords", "n_distinct_words", "quality_score")
        .orderBy("doc_id")
    },
    "text_gopher_rules" -> { (s, dir) =>
      prep(s, dir, "documents")
      // Gopher/MassiveText filter battery, all-integer cross-multiplied
      // ratio tests; minWords=20 fits this corpus' ~25-word docs so the
      // verdict actually varies (50 is the paper's web default)
      pipeline.TextAnalysis.gopherRules(s.table("documents"), "doc_id", "text",
          minWords = 20L)
        .orderBy("doc_id")
    },
    "pipeline_score_calibration" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-source percent-rank calibration of the quality score: one
      // global cut then means "bottom X% of EACH source"
      val scored = pipeline.TextAnalysis.qualityScore(s.table("documents"), "text")
        .select("doc_id", "source", "quality_score")
      pipeline.TextAnalysis.calibrateScores(scored, "doc_id", "source", "quality_score")
        .orderBy("doc_id")
    },
    "text_tokens" -> { (s, dir) =>
      prep(s, dir, "documents")
      pipeline.TextAnalysis.tokenCounts(s.table("documents"), "text")
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens")
        .orderBy("doc_id")
    },
    "text_bpe_encode" -> { (s, dir) =>
      prep(s, dir, "documents")
      // corpus-trained BPE: one distributed word-count pass, driver merge
      // learning over the (tiny) vocab table, broadcast-merges encode as a
      // pure map. HASH-GATED as of r11: the 200 greedy merge steps unroll
      // into the DuckDB oracle (bracketed-symbol string replace ==
      // mergeAll), and encode-given-merges equals the training-final
      // segmentation for corpus words; round-trip exactness stays gated
      // by text_bpe_roundtrip and the merge sequence hand-verified in
      // BpeSpec
      val docs = s.table("documents")
      val model = pipeline.Bpe.train(docs, "text", nMerges = 200)
      docs.select(col("doc_id"),
          pipeline.Bpe.encode(model, col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    "text_token_fertility" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r15: tokenizer FERTILITY by language — tokens-per-word and
      // bytes-per-token of the corpus-trained BPE per langid bucket,
      // the multilingual-tokenizer health readout LLM pipelines report
      // (fertility creeping up on a language = that language is
      // under-represented in the learned vocab); integer milli ratios
      // off one encode pass + one langid pass + one tiny groupBy
      val docs = s.table("documents")
      val model = pipeline.Bpe.train(docs, "text", nMerges = 200)
      val ws = pipeline.TextAnalysis.words(col("text"))
      docs.select(
          pipeline.TextAnalysis.langId(col("text")).as("lang"),
          size(ws).cast("long").as("__nw"),
          aggregate(transform(ws, w => octet_length(w).cast("long")),
            lit(0L), (a, x) => a + x).as("__nb"),
          size(pipeline.Bpe.encode(model, col("text"))).cast("long").as("__nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nw")).as("n_words"),
          sum(col("__nt")).as("n_tokens"),
          sum(col("__nb")).as("n_word_bytes"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          col("n_word_bytes"),
          expr("CASE WHEN n_words > 0 THEN n_tokens * 1000 DIV n_words END")
            .as("fertility_milli"),
          expr("CASE WHEN n_tokens > 0 THEN n_word_bytes * 1000 DIV n_tokens END")
            .as("bytes_per_token_milli"))
        .orderBy("lang")
    },
    "text_unigram_tokens" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: unigram-LM (SentencePiece-style) tokenizer — seed substring
      // inventory, 2 hard-EM (Viterbi) rounds on the lg64 cost grade,
      // prune to 48 pieces, plan-constant Viterbi encode; the oracle
      // replays seeding, both EM rounds, the prune, and the final
      // segmentation on the same integer arithmetic
      val docs = s.table("documents")
      val model = pipeline.Unigram.train(docs, "text", nVocab = 48,
        maxPieceLen = 4, seedSize = 64, iters = 2)
      docs.select(col("doc_id"),
          pipeline.Unigram.encode(model, col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_unigram_tokens"))
        .orderBy("doc_id")
    },
    "text_bpe_roundtrip" -> { (s, dir) =>
      prep(s, dir, "documents")
      // hash-gated round-trip: detokenizing the BPE stream must
      // reconstruct the whitespace-normalized document exactly — proves
      // the trained segmentation loses nothing, against a DuckDB oracle
      // that never saw the tokenizer
      val docs = s.table("documents")
      val model = pipeline.Bpe.train(docs, "text", nMerges = 200)
      // detokenization is pure concatenation: the space end-of-word
      // marker is collision-free by construction (words are whitespace-
      // split, no token contains a space)
      docs.select(col("doc_id"),
          pipeline.Bpe.encode(model, col("text")).as("toks"))
        .select(col("doc_id"),
          rtrim(array_join(col("toks"), ""), " ").as("detok"))
        .orderBy("doc_id")
    },
    "text_len_quantile_sketch" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-language word-count quantiles via the MERGEABLE bounded-state
      // sketch (built-in percentile parks every value in the agg state —
      // executor-OOM at web-corpus group sizes). Exact regime here
      // (groups ≪ k) so R-7 parity with DuckDB quantile_cont hash-gates;
      // the approximate regime's rank-error bound is spec'd at N ≫ k
      s.table("documents")
        .select(col("lang"),
          size(pipeline.TextAnalysis.words(col("text"))).cast("double").as("n"))
        .groupBy("lang")
        .agg(functions.QuantileSketch.sketchQuantiles(
          col("n"), 4096, Seq(0.25, 0.5, 0.75, 0.9)).as("qs"))
        .select(col("lang"),
          floor(col("qs")(0) * 100 + 0.5).cast("long").as("p25_c"),
          floor(col("qs")(1) * 100 + 0.5).cast("long").as("p50_c"),
          floor(col("qs")(2) * 100 + 0.5).cast("long").as("p75_c"),
          floor(col("qs")(3) * 100 + 0.5).cast("long").as("p90_c"))
        .orderBy("lang")
    },
    "text_compress_ratio" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14 TOLERANCE GATE — graduated from rows-only (the jpeg_stats
      // pattern): deflate bytes are not SQL-replayable, so the HASH-GATED
      // contract is the redundancy signal's SEMANTIC verdict on planted
      // id-derived payloads. Per doc two texts with known compressibility:
      // an 8-char md5 pattern repeated k = 16 + id%32 times (deflate
      // collapses the repeats — measured 35k-102k ppm, gated <= 200k) and
      // 192 chars of distinct md5 hex (4-bit/char entropy — measured
      // 599k-635k ppm, gated in [450k, 800k]); the raw length is pure id
      // arithmetic, gated exactly. A Deflater drift past the (2x-headroom)
      // bands flips a boolean and breaks the hash; exact ppm ordering/
      // determinism contracts stay spec'd in NormalizeSpec.
      val cr = (c: org.apache.spark.sql.Column) =>
        pipeline.TextAnalysis.compressionRatio(c)
      s.table("documents")
        .select(col("doc_id"),
          repeat(substring(md5(col("doc_id").cast("string")), 1, 8),
            (lit(16) + col("doc_id") % 32).cast("int")).as("__rep"),
          concat((0 to 5).map(i =>
            md5(concat(col("doc_id").cast("string"), lit(s"-$i")))): _*)
            .as("__junk"))
        .select(col("doc_id"),
          length(col("__rep")).cast("long").as("n_raw_rep"),
          (cr(col("__rep")) <= 200000L).as("rep_low"),
          (cr(col("__junk")) >= 450000L && cr(col("__junk")) <= 800000L)
            .as("junk_band"),
          (cr(col("__rep")) < cr(col("__junk"))).as("rep_below_junk"))
        .orderBy("doc_id")
    },
    "text_nfc_normalize" -> { (s, dir) =>
      prep(s, dir, "documents")
      // Unicode NFC vs DuckDB's nfc_normalize: both engines append the
      // SAME decomposed suffix (e + combining acute U+0301 — a literal
      // here, chr(101)||chr(769) in the oracle; Spark's chr is ASCII-mod-
      // 256, not a code point) so the normalizer genuinely has work to do
      // — a pure-ASCII corpus would gate nothing
      s.table("documents")
        .select(col("doc_id"),
          pipeline.TextAnalysis.normalizeUnicode(
            concat(col("text"), lit(" caf" + "e\u0301")), "NFC")
            .as("norm"))
        .orderBy("doc_id")
    },
    "text_fingerprint" -> { (s, dir) =>
      prep(s, dir, "documents")
      pipeline.TextAnalysis.fingerprints(s.table("documents"), "text")
        .select("doc_id", "fp_md5")
        .orderBy("doc_id")
    },
    "text_redact" -> { (s, dir) =>
      prep(s, dir, "documents")
      // plant deterministic PII (email/IP/phone) per doc, then scrub it —
      // oracle plants and scrubs with the identical RE2-safe regexes
      val withPii = s.table("documents").withColumn("t", concat(
        col("text"), lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 tel 555-010-"), (lit(1000) + col("doc_id") % 9000).cast("string")))
      withPii.select(col("doc_id"), pipeline.TextAnalysis.redactPii(col("t")).as("redacted"))
        .orderBy("doc_id")
    },
    "text_strip_markup" -> { (s, dir) =>
      prep(s, dir, "documents")
      // wrap each doc in deterministic HTML (tags, script/style with code
      // bodies, a comment, entities incl. the &amp;amp; no-double-decode
      // probe), then strip it — the raw-crawl → prose step; the oracle
      // plants and strips with the identical RE2-safe chain
      val html = s.table("documents").withColumn("h", concat(
        lit("<html><!-- doc "), col("doc_id").cast("string"),
        lit(" --><head><style>p{color:red}</style><script type=\"text/javascript\">var v="),
        col("doc_id").cast("string"),
        lit(";</script></head><body><p class=\"main\">"), col("text"),
        lit("</p><br>&quot;Q&quot; &amp;amp; &lt;tag&gt;&nbsp;end</body></html>")))
      html.select(col("doc_id"),
          pipeline.TextAnalysis.stripMarkup(col("h")).as("clean"))
        .orderBy("doc_id")
    },
    "text_chunks" -> { (s, dir) =>
      prep(s, dir, "documents")
      // context-window prep: one row per 16-word window, stable key
      pipeline.TextAnalysis.wordChunks(s.table("documents"), "doc_id", "text", chunkWords = 16)
        .orderBy("doc_id", "chunk_id")
    },
    "text_lang_spans" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: mixed-language line segmentation — planted bilingual
      // structure (1-in-4 docs gain two consecutive German lines = ONE
      // de span; another 1-in-4 gain fr/en/fr = THREE spans, the
      // consecutiveness test) over the per-line langid + islands
      // collapse; the router readout a per-doc language id can't give
      val planted = s.table("documents").withColumn("t2", concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit("\nder und die ist nicht ein mit\nder das und ist"))
          .when(col("doc_id") % 4 === 1,
            lit("\nle la les et est un\nthe and of to is\nle et la pour"))
          .otherwise(lit(""))))
      pipeline.TextAnalysis.langSpans(planted, "doc_id", "t2")
        .orderBy("doc_id", "span_id")
    },
    "text_rouge" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: ROUGE-2 of a deterministic "extractive summary" (the first
      // 20 words + a planted 'spark spark spark' repetition that the
      // CLIPPED counts must cap at the reference multiplicity) against
      // the full document — the summarization-eval readout in exact ppm
      val withCand = s.table("documents").withColumn("cand",
        concat_ws(" ", expr(
          "concat(slice(filter(split(lower(text), '\\\\s+'), x -> length(x) > 0), 1, 20)," +
            " array('spark', 'spark', 'spark'))")))
      pipeline.TextAnalysis.rougeN(withCand, "text", "cand", n = 2)
        .select("doc_id", "n_ref_grams", "n_cand_grams", "overlap_grams",
          "rouge_recall_ppm", "rouge_precision_ppm", "rouge_f1_ppm")
        .orderBy("doc_id")
    },
    "text_chunks_sentence" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: sentence-boundary RAG chunking — the corpus text carries no
      // punctuation, so deterministic boundaries are PLANTED first
      // (replace() is literal left-to-right in both engines): frequent
      // words become terminators, giving variable-length sentences; 3-
      // sentence windows advance by 2 (1-sentence overlap)
      val sent = s.table("documents").withColumn("t2", expr(
        "replace(replace(replace(text, ' table ', '. '), ' value ', '! '), ' row ', '? ')"))
      pipeline.TextAnalysis.sentenceChunks(sent, "doc_id", "t2",
          maxSentences = 3, overlap = 1)
        .orderBy("doc_id", "chunk_id")
    },
    "text_vocab" -> { (s, dir) =>
      prep(s, dir, "documents")
      // corpus vocabulary: top-100 tokens by frequency (TakeOrdered plan —
      // per-partition top-N, no global sort materializes)
      pipeline.TextAnalysis.vocabulary(s.table("documents"), "text", topN = 100)
        .withColumn("n", col("n").cast("long"))
        .orderBy(col("n").desc, col("token"))
    },
    "text_nb_classify" -> { (s, dir) =>
      prep(s, dir, "documents")
      // integer multinomial Naive Bayes: lang as the class — trained and
      // scored in one bit-replayable pipeline (resubstitution accuracy;
      // the oracle replays training AND scoring)
      pipeline.TextAnalysis.naiveBayesClassify(
          s.table("documents"), "doc_id", "text", "lang")
        .orderBy("doc_id")
    },
    "text_nb_eval" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-class precision/recall/F1 of the NB classifier (composed):
      // with per-class actual/predicted counts na/np and true positives
      // tp, F1 reduces to the exact rational 2·tp·1e6 DIV (na + np) —
      // the eval-harness completion of text_nb_classify's raw accuracy
      val scored = pipeline.TextAnalysis.naiveBayesClassify(
        s.table("documents"), "doc_id", "text", "lang")
      val t1 = scored.groupBy(col("actual").as("cls"))
        .agg(count(lit(1)).as("n_actual"),
          sum(when(col("predicted") === col("actual"), 1L).otherwise(0L)).as("tp"))
      val t2 = scored.where(col("predicted").isNotNull)
        .groupBy(col("predicted").as("cls"))
        .agg(count(lit(1)).as("__np"))
      t1.join(t2, Seq("cls"), "left")
        .select(col("cls"), col("n_actual"),
          coalesce(col("__np"), lit(0L)).as("n_predicted"), col("tp"),
          when(coalesce(col("__np"), lit(0L)) > 0,
            expr("(tp * 1000000L) DIV __np")).as("precision_ppm"),
          expr("(tp * 1000000L) DIV n_actual").as("recall_ppm"),
          expr("(2 * tp * 1000000L) DIV (n_actual + coalesce(__np, 0L))").as("f1_ppm"))
        .orderBy("cls")
    },
    "dedup_group_sizes" -> { (s, dir) =>
      prep(s, dir, "documents")
      // near-dup cluster-size census (composed): the dedup-yield shape —
      // how much of the corpus sits in singletons vs pairs vs bigger,
      // size-bucketed by bit-length (the degree-profile convention)
      docDupGroups(s)
        .groupBy("group_id").agg(count(lit(1)).as("__sz"))
        .groupBy(length(bin(col("__sz"))).cast("int").as("size_bucket"))
        .agg(count(lit(1)).as("n_groups"), sum(col("__sz")).as("n_docs"))
        .orderBy("size_bucket")
    },
    "text_simpson" -> { (s, dir) =>
      prep(s, dir, "documents")
      // Simpson repeat probability: exact-integer repetition measure
      // (probability two random word tokens match) — no logarithm at all
      pipeline.TextAnalysis.simpsonRepeat(s.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_word_entropy" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-doc word-distribution Shannon entropy in 64ths of a bit
      // (the idf64 fixed-point log2 grade) — the repetition/diversity
      // screen, transcendental-free hence hash-gateable
      pipeline.TextAnalysis.wordEntropy(s.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_textrank" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r13: TextRank keywords — pageRank's integer fixed point over the
      // pmi bigram co-occurrence graph (md5 word ids); the centrality
      // answer to "which words matter" beside tf-idf's frequency
      pipeline.TextAnalysis.textRank(s.table("documents"), "text",
        iterations = 4, minCount = 2, k = 25)
    },
    "text_pmi" -> { (s, dir) =>
      prep(s, dir, "documents")
      // collocation mining: adjacent-pair PMI in the shared lg64 grade
      // (sum-of-grades form), count-5 noise floor, top-50 — the
      // multi-word-expression candidate pass
      pipeline.TextAnalysis.pmiCollocations(s.table("documents"), "text",
        minCount = 5, k = 50)
    },
    "pipeline_luhn_audit" -> { (s, dir) =>
      prep(s, dir, "documents")
      // PAN exposure audit: a planted 16-digit arithmetic run (+ a
      // 12-digit decoy the length gate excludes) per doc — validity
      // falls where the mod-10 checksum says, BOTH engines replaying
      // extraction and checksum over the same text
      val planted = s.table("documents").withColumn("__t2",
        concat_ws(" ", col("text"), lit("ref 123456789012 card"),
          expr("concat_ws('', transform(sequence(1, 16), " +
            "i -> CAST((doc_id * (2*i + 3)) % 10 AS STRING)))")))
      pipeline.TextAnalysis.luhnAudit(planted, "doc_id", "__t2")
        .orderBy("doc_id")
    },
    "text_novelty" -> { (s, dir) =>
      prep(s, dir, "documents")
      // snapshot-refresh novelty: odd docs' distinct word 3-grams probed
      // against the even-doc reference — novelty ~0 flags a re-crawl
      val docs = s.table("documents")
      pipeline.TextAnalysis.ngramNovelty(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
          docs.where(col("doc_id") % 2 === 0), "text", n = 3)
        .orderBy("doc_id")
    },
    "pipeline_pack_chop" -> { (s, dir) =>
      prep(s, dir, "documents")
      // GPT-style concat-and-chop packing at context 256: docs take a
      // deterministic md5-shuffled position in the virtual token stream
      // and split into per-bin pieces; bins tile to exact capacity
      val counted = pipeline.TextAnalysis.tokenCounts(s.table("documents"), "text")
        .select(col("doc_id"), col("n_ws_tokens"))
      pipeline.TextAnalysis.packChop(counted, "doc_id", "n_ws_tokens",
          capacity = 256L)
        .orderBy("bin", "bin_offset")
    },
    "text_zipf" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-source Zipf rank-frequency slope: OLS of lg64(count) on
      // lg64(rank) over the top-50 tokens — natural language sits near
      // -1000 milli; flat heads flag boilerplate, steep cliffs spam
      pipeline.TextAnalysis.zipfSlope(s.table("documents"), "source",
          "text", topN = 50)
        .orderBy("source")
    },
    "text_source_kl" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-source unigram KL-style drift grade from the corpus
      // distribution (millibits/token on the lg64 grade) — the
      // composition readout that ranks sources for recipe rebalancing
      pipeline.TextAnalysis.sourceKl(s.table("documents"), "source", "text")
        .orderBy("source")
    },
    "src_avro_roundtrip" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: Avro round-trip — documents → deflate Avro part files →
      // read back under an explicit schema → per-lang rollup; oracle
      // computes the same rollup straight from parquet (the ORC gate's
      // shape — any writer/reader loss or drift breaks the hash)
      val out = s"/tmp/graft_avro_gate_${ProcessHandle.current().pid()}"
      sources.Avro.write(
        s.table("documents").select("doc_id", "lang", "n_chars"), out, 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, lang STRING, n_chars BIGINT")
      sources.Avro.read(s, out, schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")
    },
    "src_orc_roundtrip" -> { (s, dir) =>
      prep(s, dir, "documents")
      // ORC round-trip: documents → zlib ORC part files → read back
      // under an explicit schema → per-lang rollup; the oracle computes
      // the same rollup straight from the parquet source, so any loss
      // or drift in the ORC writer/reader breaks the hash. Unlike the
      // CSV/JSONL gates (whose oracles read the SAME part files, so the
      // driver must know the path), nothing external reads these files —
      // a per-process suffix removes the concurrent-session overwrite
      // race on the shared path
      val out = s"/tmp/graft_orc_gate_${ProcessHandle.current().pid()}"
      sources.Orc.write(
        s.table("documents").select("doc_id", "lang", "n_chars"), out, 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, lang STRING, n_chars BIGINT")
      sources.Orc.read(s, out, schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")
    },
    "text_decontam" -> { (s, dir) =>
      prep(s, dir, "documents")
      // benchmark decontamination with planted leakage: the "benchmark" is a
      // 16-word excerpt of every 25th doc, so those docs MUST be flagged;
      // the benchmark gram set is broadcast — the train side never shuffles
      val docs = s.table("documents")
      val bench = docs.where(col("doc_id") % 25 === 0)
        .select(array_join(
          slice(pipeline.TextAnalysis.words(col("text")), 1, 16), " ").as("text"))
      pipeline.TextAnalysis.contamination(docs, bench, "doc_id", "text", n = 8, minHits = 1)
        .orderBy("doc_id")
    },
    "text_decontam_runs" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: contamination SEVERITY — longest contiguous matching-gram
      // run per doc (Lee et al. '22's verbatim-copy vs phrase-noise
      // distinction the binary flag erases); every 25th doc contains
      // its own 16-word benchmark excerpt → a 9-gram run must surface
      val docs = s.table("documents")
      val bench = docs.where(col("doc_id") % 25 === 0)
        .select(array_join(
          slice(pipeline.TextAnalysis.words(col("text")), 1, 16), " ").as("text"))
      pipeline.TextAnalysis.contaminationRuns(docs, bench, "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
    "text_decontam_batch" -> { (s, dir) =>
      prep(s, dir, "documents")
      // MULTI-benchmark decontamination in one pass: two planted
      // benchmarks (16-word excerpts of every 25th doc; words 5-20 of
      // every 40th) screened together — the corpus is gram-hashed ONCE,
      // per-(doc, benchmark) hits from one groupBy
      val docs = s.table("documents")
      val ws = pipeline.TextAnalysis.words(col("text"))
      val benches = docs.where(col("doc_id") % 25 === 0)
        .select(lit("benchA").as("bench"),
          array_join(slice(ws, 1, 16), " ").as("text"))
        .union(docs.where(col("doc_id") % 40 === 0)
          .select(lit("benchB").as("bench"),
            array_join(slice(ws, 5, 16), " ").as("text")))
      pipeline.TextAnalysis.contaminationBatch(docs, benches, "doc_id",
          "text", "bench", n = 8, minHits = 1)
        .orderBy("doc_id", "benchmark")
    },
    "pipeline_split" -> { (s, dir) =>
      prep(s, dir, "documents")
      // deterministic train/val/test split: md5-digit buckets 0-13/14/15,
      // pure map (no shuffle until the audit agg), engine-mirrorable
      val b = pipeline.TextAnalysis.splitBucket(col("doc_id"))
      s.table("documents")
        .withColumn("split", when(b <= 13, "train").when(b === 14, "val").otherwise("test"))
        .groupBy("split").agg(count(lit(1)).cast("long").as("n"),
          min("doc_id").as("min_id"))
        .orderBy("split")
    },
    "pipeline_robots_gate" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the crawl POLITENESS gate (RFC 9309) — per-domain robots
      // bodies parse on the small side, broadcast, and every URL
      // evaluates longest-match in a pure map (one broadcast join,
      // zero corpus shuffles). The .org domains carry a graftbot group
      // (Disallow /p/<k>, Allow /p/<k>7 — longest-match flips the
      // verdict) over a Disallow-/ catch-all; the .example.com domains
      // exercise group selection past a decoy otherbot group, the $
      // end anchor (Allow /docs/12$) and a never-matching * wildcard
      // rule riding along (full wildcard semantics are spec-gated)
      val urls = s.table("documents").withColumn("url",
        when(col("doc_id") % 3 === 0,
          concat(lit("https://www."), col("source"), lit(".example.com:8080/docs/"),
            col("doc_id").cast("string"), lit("?ref=crawl#top")))
          .otherwise(concat(lit("http://"), col("source"), lit(".org/p/"),
            col("doc_id").cast("string"))))
      val parts = pipeline.TextAnalysis.urlParts(urls, "url")
        .select(col("doc_id"), col("domain"), col("path"))
      val srcs = s.table("documents").select(col("source")).distinct()
      val orgBots = srcs.select(
        concat(col("source"), lit(".org")).as("rdomain"),
        concat(lit("# per-domain rules\nUser-agent: graftbot\nDisallow: /p/"),
          expr("substring(source, 4)"), lit("\nAllow: /p/"),
          expr("substring(source, 4)"),
          lit("7\n\nUser-agent: *\nDisallow: /\n")).as("robots_txt"))
      val comBots = srcs.select(
        concat(col("source"), lit(".example.com")).as("rdomain"),
        lit("User-agent: otherbot\nDisallow: /\n\nUser-agent: *\n" +
          "Disallow: /docs/1\nAllow: /docs/12$\nDisallow: /*.tmp$\n")
          .as("robots_txt"))
      pipeline.Robots.gate(parts, "domain", "path",
          orgBots.union(comBots), "rdomain", "robots_txt", "graftbot")
        .select("doc_id", "domain", "path", "allowed", "rule")
        .orderBy("doc_id")
    },
    "pipeline_url_gate" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: the crawl pipeline's FIRST filter — domain blocklist +
      // path-token screen over canonicalized URLs, first-failing-rule
      // attribution; same two synthesized URL shapes as
      // pipeline_domain_stats so the oracle replays identical regexes
      val urls = s.table("documents").withColumn("url",
        when(col("doc_id") % 3 === 0,
          concat(lit("https://www."), col("source"), lit(".example.com:8080/docs/"),
            col("doc_id").cast("string"), lit("?ref=crawl#top")))
          .otherwise(concat(lit("http://"), col("source"), lit(".org/p/"),
            col("doc_id").cast("string"))))
      pipeline.TextAnalysis.urlGate(urls, "url",
          blockedDomains = Seq("src3.example.com", "src7.org"),
          bannedPathTokens = Seq("/docs/13", "ref=spam"))
        .select("doc_id", "domain", "reject_reason", "keep")
        .orderBy("doc_id")
    },
    "pipeline_domain_stats" -> { (s, dir) =>
      prep(s, dir, "documents")
      // synthesize deterministic crawl URLs (two shapes: www host with
      // port/query/fragment, bare apex), decompose with urlParts, and
      // aggregate per registrable domain — the grouping every
      // domain-level curation decision (blocklists, caps, source
      // filters) runs on; oracle replays the identical regexes
      val urls = s.table("documents").withColumn("url",
        when(col("doc_id") % 3 === 0,
          concat(lit("https://www."), col("source"), lit(".example.com:8080/docs/"),
            col("doc_id").cast("string"), lit("?ref=crawl#top")))
          .otherwise(concat(lit("http://"), col("source"), lit(".org/p/"),
            col("doc_id").cast("string"))))
      pipeline.TextAnalysis.urlParts(urls, "url")
        .groupBy("scheme", "domain")
        .agg(count(lit(1)).cast("long").as("n_docs"), min("path").as("min_path"))
        .orderBy("scheme", "domain")
    },
    "text_script_profile" -> { (s, dir) =>
      prep(s, dir, "documents")
      // plant per-doc foreign-script suffixes (cyrillic / cjk / arabic /
      // none by doc_id % 4), then profile writing systems — the
      // multilingual router langId can't provide (stopwords only separate
      // languages SHARING a script) and a mojibake/spam signal
      val planted = s.table("documents").withColumn("t", concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" привет мир"))
          .when(col("doc_id") % 4 === 1, lit(" 你好世界 こんにちは"))
          .when(col("doc_id") % 4 === 2, lit(" مرحبا بالعالم"))
          .otherwise(lit(""))))
      pipeline.TextAnalysis.scriptProfile(planted, "t")
        .select("doc_id", "n_latin", "n_cyrillic", "n_cjk", "n_arabic",
          "n_digit", "dominant")
        .orderBy("doc_id")
    },
    "pipeline_url_dedup" -> { (s, dir) =>
      prep(s, dir, "documents")
      // crawl URL canonicalization + dedup: strip scheme/www/port/query/
      // fragment, key on (domain, path) — the cheap first dedup pass that
      // catches re-crawls of the same page before any content hashing.
      // Planted collisions: doc_id % 400 maps multiple crawls (distinct
      // ?session= query strings) onto one canonical page
      val urls = s.table("documents").withColumn("url",
        concat(lit("https://www."), col("source"), lit(".example.com:8080/p/"),
          (col("doc_id") % 400).cast("string"), lit("?session="),
          col("doc_id").cast("string")))
      pipeline.TextAnalysis.urlParts(urls, "url")
        .withColumn("canonical", concat(col("domain"), col("path")))
        .withColumn("keep_id", expr("min(doc_id) OVER (PARTITION BY canonical)"))
        .select(col("doc_id"), col("canonical"),
          (col("doc_id") =!= col("keep_id")).as("is_duplicate"))
        .orderBy("doc_id")
    },
    "pipeline_group_split" -> { (s, dir) =>
      prep(s, dir, "documents")
      // LEAKAGE-SAFE split: near-dup groups (the dedup_groups CC over
      // jaccard-0.55 edges) bucket by GROUP id, so no group straddles
      // folds — the eval-contamination guard pipeline_split lacks
      val docs = s.table("documents")
      val groups = docDupGroups(s)
      val b = col("bucket")
      pipeline.TextAnalysis.groupAwareSplitBucket(docs, "doc_id", groups)
        .withColumn("split",
          when(b <= 13, "train").when(b === 14, "val").otherwise("test"))
        .groupBy("split").agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("group_key")).as("n_groups"))
        .orderBy("split")
    },
    "text_packing" -> { (s, dir) =>
      prep(s, dir, "documents")
      // sequence packing: docs laid into 256-token context windows within
      // 8 hash shards — per-shard prefix sums, one bounded window shuffle
      pipeline.TextAnalysis.packSequences(s.table("documents"), "doc_id", "text",
          contextTokens = 256, shards = 8)
        .orderBy("doc_id")
    },
    "pipeline_token_yield" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: the effective-training-token yield table — the FIRST
      // question of a data recipe: how many tokens does each source
      // actually contribute after exact dedup and the per-lang quality
      // median gate? raw → unique → kept, all integer token counts,
      // yield in ppm of raw
      val base = pipeline.Materialize.cut(
        pipeline.TextAnalysis.qualityScore(
          pipeline.Dedup.exact(s.table("documents"), "doc_id", "text"), "text")
          .select(col("doc_id"), col("source"), col("lang"),
            col("is_duplicate"), col("n_words"), col("quality_score")))
      val med = base.groupBy("lang")
        .agg(expr("percentile(quality_score, 0.5)").as("__p50"))
      base.join(broadcast(med), Seq("lang"))
        .withColumn("__kept",
          !col("is_duplicate") && col("quality_score") >= col("__p50"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("raw_tokens"),
          sum(when(!col("is_duplicate"), 1L).otherwise(0L)).as("n_unique"),
          sum(when(!col("is_duplicate"), col("n_words")).otherwise(0L))
            .as("unique_tokens"),
          sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("__kept"), col("n_words")).otherwise(0L)).as("kept_tokens"))
        .withColumn("yield_ppm", expr("(kept_tokens * 1000000) DIV raw_tokens"))
        .orderBy("source")
    },
    "text_quality_filter" -> { (s, dir) =>
      prep(s, dir, "documents")
      // curation gate: keep docs at or above their language's median
      // quality score (exact R-7 percentile, proven cross-engine)
      // materialized: q feeds both the median aggregate and the join —
      // without the cut the quality/langId scan runs twice
      val q = pipeline.Materialize.cut(
        pipeline.TextAnalysis.qualityScore(s.table("documents"), "text")
          .withColumn("lang", pipeline.TextAnalysis.langId(col("text")))
          .select("doc_id", "lang", "quality_score"))
      val med = q.groupBy("lang").agg(expr("percentile(quality_score, 0.5)").as("p50"))
      q.join(broadcast(med), "lang")
        .where(col("quality_score") >= col("p50"))
        .select("doc_id", "lang", "quality_score")
        .orderBy("doc_id")
    },
    "dedup_crosscorpus_near" -> { (s, dir) =>
      prep(s, dir, "documents")
      // NEAR-dup incremental gate: fresh batch blocked against the shipped
      // corpus via MinHash bands, exact-Jaccard verified. HASH-GATED as of
      // r11 (same md5-h60 signature replay as dedup_minhash_pairs, split
      // into guarded ref keys × fresh keys); planted-pair recall spec'd in
      // PipelineSpec
      val docs = s.table("documents")
      val ref = docs.where(col("doc_id") % 5 === 0)
      val fresh = docs.where(col("doc_id") % 5 =!= 0)
      val cands = pipeline.Dedup.minhashCrossCandidates(fresh, ref, "doc_id", "text",
        broadcastRef = true)
      pipeline.Dedup.verifyJaccard(cands, docs, "doc_id", "text", shingle = 5)
        .where(col("jaccard") >= 0.6)
        .withColumn("jacc_scaled", floor(col("jaccard") * 1e6).cast("long"))
        .select("a", "b", "jacc_scaled")
        .orderBy("a", "b")
    },
    "dedup_crosscorpus" -> { (s, dir) =>
      prep(s, dir, "documents")
      // incremental-batch gate: docs with id % 5 == 0 play the already-
      // shipped reference corpus; the rest are the fresh batch, admitted
      // only if their normalized content is absent from the reference.
      // Reference hash set broadcast — the fresh (100 TB) side never shuffles
      val docs = s.table("documents")
      pipeline.Dedup.crossCorpus(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0), "text", broadcastRef = true)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    "dedup_bloom_gate" -> { (s, dir) =>
      prep(s, dir, "documents")
      // the 100-TB-shape exact gate: reference hashes too big to
      // broadcast, fresh side too big to shuffle — a mergeable Bloom
      // filter prefilters with a pure map, candidates confirmed exactly.
      // Output is EXACT (bloom only routes), same NOT-EXISTS oracle
      val docs = s.table("documents")
      pipeline.Dedup.crossCorpusBloom(
          docs.where(col("doc_id") % 3 =!= 0),
          docs.where(col("doc_id") % 3 === 0), "text", fpp = 0.05)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    "pipeline_source_mix" -> { (s, dir) =>
      prep(s, dir, "documents")
      // data-recipe mixing: keep the largest corpus matching 30/30/20/20
      // across four sources; integer ppm/floor arithmetic end-to-end so
      // the keep decision is bit-identical to the DuckDB oracle
      pipeline.TextAnalysis.sourceMix(s.table("documents"), "doc_id", "source",
          Map("src0" -> 300000L, "src1" -> 300000L, "src2" -> 200000L, "src3" -> 200000L))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    "pipeline_mix_plan" -> { (s, dir) =>
      prep(s, dir, "documents")
      // token-budget water-filling planner: a 40/30/20/10 recipe over
      // four sources, 2-epoch cap, 9000-token budget — the high-weight
      // source SATURATES and its shortfall flows to the rest
      // proportionally; the whole plan is the cross-multiplied integer
      // water-filling, hash-gated
      val counted = pipeline.TextAnalysis.tokenCounts(s.table("documents"), "text")
      pipeline.TextAnalysis.mixPlan(counted, "source", "n_ws_tokens",
          Map("src0" -> 400000L, "src1" -> 300000L,
            "src2" -> 200000L, "src3" -> 100000L),
          budgetTokens = 9000L, maxEpochs = 2)
        .orderBy("source")
    },
    "pipeline_drift" -> { (s, dir) =>
      prep(s, dir, "documents")
      // snapshot drift monitor: doc-length histograms of two corpus
      // halves, integer bins + ppm — bit-identical cross-engine
      val tok = pipeline.TextAnalysis.tokenCounts(s.table("documents"), "text")
        .select(col("doc_id"), col("n_ws_tokens"))
      pipeline.TextAnalysis.drift(
        tok.where(col("doc_id") % 2 === 0), tok.where(col("doc_id") % 2 === 1),
        "n_ws_tokens", bins = 10, lo = 0, hi = 499)
    },
    "pipeline_psi" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: PSI drift score off the same histogram as pipeline_drift —
      // graduated from drift()'s float-spec note to an exact integer
      // millibit readout via the Lg64 piecewise-linear log2
      val tok = pipeline.TextAnalysis.tokenCounts(s.table("documents"), "text")
        .select(col("doc_id"), col("n_ws_tokens"))
      pipeline.TextAnalysis.psi(
        tok.where(col("doc_id") % 2 === 0), tok.where(col("doc_id") % 2 === 1),
        "n_ws_tokens", bins = 10, lo = 0, hi = 499)
    },
    "pipeline_js_drift" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: the bounded, symmetric drift score — JS stays in [0,1] bit
      // where PSI explodes on disjoint-support bins; same histogram,
      // same Lg64 integer log2
      val tok = pipeline.TextAnalysis.tokenCounts(s.table("documents"), "text")
        .select(col("doc_id"), col("n_ws_tokens"))
      pipeline.TextAnalysis.jsDivergence(
        tok.where(col("doc_id") % 2 === 0), tok.where(col("doc_id") % 2 === 1),
        "n_ws_tokens", bins = 10, lo = 0, hi = 499)
    },
    "pipeline_sample_per_group" -> { (s, dir) =>
      prep(s, dir, "documents")
      // k exemplar docs per language by deterministic md5 bottom-k —
      // bounded two-phase aggregate, no per-group window sort
      pipeline.TextAnalysis.samplePerGroup(s.table("documents"), "lang", "doc_id", k = 8)
        .orderBy("lang", "rank")
    },
    "pipeline_sample_stratified" -> { (s, dir) =>
      prep(s, dir, "documents")
      // language rebalancing: keep 50% of en, 25% of de, 12.5% of the rest,
      // deterministically by md5 bucket — a pure map, stream-safe
      pipeline.TextAnalysis.stratifiedSample(s.table("documents"), "doc_id", "lang",
          fractions = Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.125)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    "text_lm_score" -> { (s, dir) =>
      prep(s, dir, "documents")
      // corpus-trained bigram LM typicality score, integer-exact (see
      // TextAnalysis.bigramLmScore scaladoc for the plan shape)
      pipeline.TextAnalysis.bigramLmScore(s.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_repetition" -> { (s, dir) =>
      prep(s, dir, "documents")
      // Gopher-style within-doc repetition signals, integer ppm (see
      // TextAnalysis.repetitionSignals scaladoc for the metric definitions)
      pipeline.TextAnalysis.repetitionSignals(s.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_dup_ngrams" -> { (s, dir) =>
      prep(s, dir, "documents")
      // cross-document duplicated 8-grams (exact-substring dedup signal at
      // n-gram granularity) — hashed inverted index, Spark side; the oracle
      // groups the raw gram strings (64-bit hash collisions negligible)
      pipeline.TextAnalysis.corpusDupNgrams(s.table("documents"), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
    "text_dup_lines" -> { (s, dir) =>
      prep(s, dir, "documents")
      // C4/RefinedWeb-style line-level dedup SIGNAL. The corpus texts are
      // single-line, so the query first derives a deterministic MULTI-line
      // view (the text_chunks 8-word-window construction joined with \n —
      // oracle rebuilds the identical view), then counts corpus-duplicated
      // lines per doc
      pipeline.TextAnalysis.dupLineStats(multilineView(s), "doc_id", "text",
          minDocs = 2, minLineChars = 10)
        .orderBy("doc_id")
    },
    "text_line_dedup" -> { (s, dir) =>
      prep(s, dir, "documents")
      // line-level dedup REWRITE: strip corpus-duplicated lines and
      // reassemble each doc (same multiline view as text_dup_lines)
      pipeline.TextAnalysis.removeDuplicateLines(multilineView(s), "doc_id", "text",
          minDocs = 2, minLineChars = 10)
        .orderBy("doc_id")
    },
    "text_c4_clean" -> { (s, dir) =>
      prep(s, dir, "documents")
      // C4 line-cleaning battery (Raffel '20 §2.2) over a
      // deterministically dirtied multiline view: line 0 is too short,
      // then (doc_id + i) % 5 plants terminal '.', '!' (both kept), no
      // punctuation, a mid-line brace, and a javascript mention — every
      // dropped line accounted to the FIRST rule it fails
      val planted = multilineView(s).select(col("doc_id"),
        expr("""array_join(transform(split(text, '\n'), (l, i) ->
          CASE WHEN i = 0 THEN 'tiny line.'
               WHEN (doc_id + i) % 5 = 0 THEN concat(l, '.')
               WHEN (doc_id + i) % 5 = 1 THEN concat(l, '!')
               WHEN (doc_id + i) % 5 = 2 THEN l
               WHEN (doc_id + i) % 5 = 3 THEN concat(l, ' { x.')
               ELSE concat(l, ' javascript on.') END), '\n')""").as("text"))
      pipeline.TextAnalysis.c4LineClean(planted, "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_langid_kappa" -> { (s, dir) =>
      prep(s, dir, "documents")
      // does the stopword langid agree with the DECLARED lang column
      // beyond chance? Cohen's kappa as one exact integer rational —
      // raw agreement would reward always answering the majority class
      val scored = s.table("documents").select(
        pipeline.TextAnalysis.langId(col("text")).as("pred"), col("lang"))
      pipeline.Relational.cohenKappa(scored, "pred", "lang")
    },
    "text_langid_confusion" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: the DIAGNOSTIC behind the kappa's one number — the full
      // (declared, predicted) confusion grid with per-declared-lang
      // recall ppm: kappa says the rater disagrees, the matrix says
      // WHERE (which languages the stopword profile confuses)
      s.table("documents")
        .where(col("lang").isNotNull)
        .select(col("lang"), pipeline.TextAnalysis.langId(col("text")).as("pred"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy("lang")))
        .select(col("lang"), col("pred"), col("n"),
          col("row_total").cast("long").as("row_total"),
          expr("CAST(n * 1000000 DIV row_total AS BIGINT)").as("share_ppm"))
        .orderBy("lang", "pred")
    },
    "dedup_threshold_curve" -> { (s, dir) =>
      prep(s, dir, "documents")
      // dedup-threshold TUNING curve (composed — the composition is the
      // point): exact-Jaccard pair/doc yield at every decile ≥ 50, off
      // ONE prefix-filtered exact join at the loosest threshold; pick
      // the production threshold from measured yield, not folklore
      val pairs = pipeline.Dedup.similarityJoinWords(s.table("documents"),
        "doc_id", "text", thresholdPct = 50, gramWords = 4)
      val th = { import s.implicits._; (50 to 100 by 10).toDF("threshold_pct") }
      pairs.join(broadcast(th), expr("n_int * 100 >= threshold_pct * n_union"))
        .select(col("threshold_pct"), explode(array(col("a"), col("b"))).as("d"))
        .groupBy("threshold_pct")
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("d")).as("n_docs"))
        .orderBy("threshold_pct")
    },
    "text_span_dedup" -> { (s, dir) =>
      prep(s, dir, "documents")
      // exact-substring span REMOVAL (Lee et al. 2022): cut every 8-word
      // span that also appears verbatim in another document, rebuild the
      // survivors — the rewrite twin of text_dup_ngrams' signal
      pipeline.TextAnalysis.removeDuplicateSpans(s.table("documents"), "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy("doc_id")
    },
    "pipeline_dsir_weights" -> { (s, dir) =>
      prep(s, dir, "documents")
      // DSIR importance weights: raw corpus scored against the src0 slice
      // as the quality-exemplar target (bit-length integer log2 stand-in
      // for the hashed-unigram log-likelihood ratio)
      val docs = s.table("documents")
      pipeline.TextAnalysis.importanceWeights(docs,
          docs.where(col("source") === "src0"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "text_heavy_hitters" -> { (s, dir) =>
      prep(s, dir, "documents")
      // Misra-Gries bounded-state frequent tokens (k-entry summaries are
      // the aggregation state, never one-entry-per-distinct-key). k=256 ≫
      // this corpus's vocabulary, so the sketch runs in its EXACT regime
      // and hash-gates against the exact GROUP BY oracle; the
      // approximate-regime guarantee is spec-asserted (HeavyHittersSpec)
      graft.functions.HeavyHitters.topTokens(s.table("documents"), "text", 256)
    },
    "sketch_hll_distinct" -> { (s, dir) =>
      prep(s, dir, "events")
      // HyperLogLog distinct users per event type — 2^8 fixed-width
      // registers per group cross the shuffle instead of one-entry-per-
      // distinct-user state; the all-integer register recipe (md5 hash,
      // bin-length rank, DECIMAL DIV estimator) replays bit-for-bit in
      // the DuckDB oracle, registers AND estimate
      pipeline.Sketches.hllDistinct(s.table("events"),
          Seq("event_type"), "user_id", p = 8)
        .orderBy("event_type")
    },
    "sketch_hll_setops" -> { (s, dir) =>
      prep(s, dir, "events")
      // r14: HLL union/intersection per event-type pair — the register
      // max-merge + inclusion-exclusion cross-source overlap planner;
      // same all-integer estimator as sketch_hll_distinct, so every
      // pair's three estimates hash-gate
      pipeline.Sketches.hllSetOps(s.table("events"),
          "event_type", "user_id", p = 8)
        .orderBy("group_a", "group_b")
    },
    "sketch_cms_freq" -> { (s, dir) =>
      prep(s, dir, "events")
      // Count-Min frequency estimates for a bounded probe cohort over the
      // event stream — d×w integer counters are the only aggregation
      // state (partial agg caps per-task shuffle output at d·w rows);
      // n_est ≥ n_exact always, equal when no slot collides
      val ev = s.table("events")
      pipeline.Sketches.cmsEstimate(ev, "user_id",
          ev.where(col("user_id") <= 50), "user_id", d = 4, w = 1024)
        .orderBy("probe")
    },
    "sketch_hll_rolling" -> { (s, dir) =>
      prep(s, dir, "events")
      // trailing-7-day distinct users per day by HLL register merge —
      // the bounded-state WAU at any corpus size (union = per-bucket max)
      pipeline.Sketches.hllRolling(s.table("events"), "ts", "user_id",
          p = 8, windowDays = 7)
        .orderBy("day")
    },
    "sketch_kmv_distinct" -> { (s, dir) =>
      prep(s, dir, "events")
      // bottom-k distinct synopsis: per-type active (user, day) audience
      // size from a 64-long sketch — the estimator branch is live (every
      // type has ~1600 > k distinct pairs); bit-replayable md5 hashes
      val ev = s.table("events")
        .select(col("event_type"),
          (col("user_id") * 1000 + dayofyear(col("ts"))).as("aud"))
      pipeline.Sketches.kmvDistinct(ev, Seq("event_type"), "aud", k = 64)
        .orderBy("event_type")
    },
    "sketch_kmv_overlap" -> { (s, dir) =>
      prep(s, dir, "events")
      // audience overlap WITHOUT joining the corpora: pairwise Jaccard +
      // union-size estimates between event types purely from their
      // 64-long KMV sketches (true pairwise Jaccard here ≈ 0.22)
      val ev = s.table("events")
        .select(col("event_type"),
          (col("user_id") * 1000 + dayofyear(col("ts"))).as("aud"))
      pipeline.Sketches.kmvOverlap(ev, "event_type", "aud", k = 64)
        .orderBy("group_a", "group_b")
    },
    "pipeline_join_delta" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // incremental view maintenance for a join: the APPEND delta when
      // both sides receive a batch — stored sides semi-filtered to the
      // deltas' touched keys, never re-joined in full
      val a = s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_custkey"))
      val b = s.table("lineitem")
        .select(col("l_orderkey").as("k"), col("l_linenumber"))
      pipeline.Maintenance.joinDelta(
          a.where(col("k") % 7 =!= 0), b.where(col("k") % 5 =!= 0),
          a.where(col("k") % 7 === 0), b.where(col("k") % 5 === 0), "k")
        .orderBy("k", "l_linenumber")
    },
    "pipeline_fd_audit" -> { (s, dir) =>
      prep(s, dir, "orders")
      // key discovery / denormalization check: which columns determine
      // which — exact per-pair countDistinct passes, no sampling
      pipeline.Maintenance.fdAudit(s.table("orders"), Seq(
          ("o_orderkey", "o_custkey"),
          ("o_custkey", "o_orderstatus"),
          ("o_orderkey", "o_orderstatus")))
        .orderBy("determinant", "dependent")
    },
    "rel_topn_other" -> { (s, dir) =>
      prep(s, dir, "orders")
      // top-5 customers by order count + an exact OTHER bucket — totals
      // reconcile (every order lands in exactly one bucket); top-N is a
      // TakeOrdered + broadcast tag, never a key-frame window
      pipeline.Relational.topNOther(s.table("orders"), "o_custkey", topN = 5)
        .orderBy(col("n").desc, col("bucket"))
    },
    "pipeline_shuffle_shards" -> { (s, dir) =>
      prep(s, dir, "documents")
      // deterministic global training shuffle: md5-keyed permutation →
      // shard + within-shard position; epoch-keyed, restart-resumable
      pipeline.Layout.shuffleShards(s.table("documents"), "doc_id",
          nShards = 16, epoch = 1)
        .orderBy("shard", "pos")
    },
    "pipeline_skew_audit" -> { (s, dir) =>
      prep(s, dir, "events")
      // "will user_id explode a shuffle": heaviest-key bound, top-10
      // share, Gini of the per-key count distribution — all integer,
      // computed exactly on the collapsed count-of-counts frame
      pipeline.Maintenance.skewAudit(s.table("events"), "user_id", topK = 10)
    },
    "pipeline_profile" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-column drift monitoring: one aggregate pass, rows unpivoted
      pipeline.TextAnalysis.profile(s.table("documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("col_name")
    },
    "pipeline_source_filter" -> { (s, dir) =>
      prep(s, dir, "documents")
      // domain-level curation: drop entire sources whose MEAN doc quality
      // is below 460/1000 (integer-exact mean test, source verdicts broadcast)
      pipeline.TextAnalysis.sourceFilter(s.table("documents"),
          "doc_id", "text", "source", minMeanQuality = 460)
        .orderBy("doc_id")
    },
    "multimodal_heif_probe" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: AVIF/HEIC still images (what phone cameras and modern
      // crawls increasingly ship) — ISO-BMFF brand dispatch + the
      // meta(FULLBOX)→iprp→ipco→ispe item-property walk, LARGEST-area
      // ispe selected so a thumbnail property never masquerades as the
      // picture (planted 8×8 thumb on id%3==0). Plants: id%37==0
      // garbage ('unknown'), id%37==5 torn ipco (brand keeps, dims
      // null — the clamp rule)
      val media = pipeline.Multimodal.synthesizeHeifPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeMeta(media, "payload")
        .select("doc_id", "format", "width", "height")
        .orderBy("doc_id")
    },
    "multimodal_probe" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL container parsing (no stub): spec-valid PNG/WAV headers are
      // built from the id, and MediaProbe extracts geometry byte-for-byte
      // per the container specs; the oracle recomputes the geometry
      // arithmetically — builder and parser must agree exactly
      val media = pipeline.Multimodal.synthesizeContainerPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeMeta(media, "payload")
        .select("doc_id", "format", "width", "height", "channels",
          "sample_rate", "n_samples")
        .orderBy("doc_id")
    },
    "multimodal_webp_probe" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: WebP (RIFF) — the dominant crawl image format after JPEG,
      // all three container flavors: VP8 lossy (start-code gate, 14-bit
      // LE dims), VP8L lossless (packed 14+14-bit dims, version-0
      // gate), VP8X extended (24-bit canvas — dims past the 14-bit
      // range prove the width). Plants: id%31==0 md5 garbage,
      // id%31==11 torn mid-header — both 'unknown' with null dims
      val media = pipeline.Multimodal.synthesizeWebpPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeMeta(media, "payload")
        .select("doc_id", "format", "width", "height")
        .orderBy("doc_id")
    },
    "multimodal_audio_probe" -> { (s, dir) =>
      prep(s, dir, "documents")
      // FLAC STREAMINFO bit-unpacking + MP3 frame-header tables (with the
      // ID3v2 skip exercised every 6th id); oracle recomputes the
      // geometry arithmetically — builder and parser must agree exactly
      val media = pipeline.Multimodal.synthesizeAudioPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeMeta(media, "payload")
        .select("doc_id", "format", "channels", "sample_rate",
          "bits_per_sample", "n_samples")
        .orderBy("doc_id")
    },
    "multimodal_mp3_frames" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: Layer III FRAME-WALK duration estimate — hop frame to
      // frame by each frame's own header-declared length, count
      // COMPLETE frames × 1152 samples, duration = n_samples·1000 DIV
      // rate. Plants: id%29==0 md5 garbage ('unknown'), id%29==4 torn
      // mid-last-frame (the walk keeps the complete frames — the
      // WARC-walk discipline); ID3v2 skip exercised on every odd id
      val media = pipeline.Multimodal.synthesizeMp3FramePayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeMeta(media, "payload")
        .select(col("doc_id"), col("format"), col("sample_rate"),
          col("channels"), col("n_samples"),
          expr("n_samples * 1000 DIV sample_rate").as("duration_ms"))
        .orderBy("doc_id")
    },
    "multimodal_mp3_xing" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: Xing/Info VBR header — the O(1) exact frame count: the
      // first frame's side-info region declares the total (1000..9999
      // frames) while only 3 physical frames exist; the declared count
      // wins without walking. Plants: id%29==0 garbage; id%29==4 Xing
      // with the frames flag CLEAR — the declaration must be ignored
      // and the walk counts the 3 physical frames
      val media = pipeline.Multimodal.synthesizeMp3XingPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeMeta(media, "payload")
        .select(col("doc_id"), col("format"), col("n_samples"),
          expr("n_samples * 1000 DIV sample_rate").as("duration_ms"))
        .orderBy("doc_id")
    },
    "multimodal_ogg_probe" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: Ogg (RFC 3533) page walk — CRC-VERIFIED pages only (the
      // real page checksum, poly 0x04c11db7), per-logical-stream codec
      // (OpusHead / vorbis BOS packets), channels/rate, and duration
      // from the last verified data-page granule — Opus on the 48 kHz
      // granule clock minus pre-skip, Vorbis at its declared rate,
      // exact integer ms. Plants: id%37==0 garbage (no streams),
      // id%37==5 torn final page (duration falls back to the partial
      // page, eos false), id%37==11 bit-rot in the final page (CRC
      // catches it: counted, skipped — never a corrupt duration)
      val media = pipeline.Multimodal.synthesizeOggPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeOggStreams(media, "payload")
        .select("doc_id", "codec", "channels", "sample_rate",
          "duration_ms", "n_pages", "n_bad_pages", "eos")
        .orderBy("doc_id")
    },
    "multimodal_png_meta" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: PNG text-chunk walk — the image-side metadata twin of the
      // EXIF/ID3 walks: length-framed chunks each gated by their OWN
      // CRC-32, all three text forms (tEXt Latin-1, zTXt behind a real
      // zlib inflate, iTXt UTF-8 incl. the compressed variant on
      // id%4==1). Plants: id%37==0 garbage (has_png false), id%37==5
      // bit-rot inside the Title chunk — its CRC catches it (counted,
      // skipped, title null) while the NEIGHBOR chunks keep, the
      // framing-survives-rot contract ogg must resync for
      val media = pipeline.Multimodal.synthesizePngMetaPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probePngMeta(media, "payload")
        .select("doc_id", "has_png", "width", "height", "title", "author",
          "description", "software", "n_text_chunks", "n_bad_crc")
        .orderBy("doc_id")
    },
    "multimodal_ogg_tags" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: Vorbis-comment / OpusTags walk — the ID3 twin for the Ogg
      // world, riding the same CRC-gated page walk: per stream the
      // second page's comment header gives vendor + TITLE/ARTIST/ALBUM
      // + the COMPLETE-comment count. Plants: id%37==0 garbage (no
      // rows), id%37==17 the comment block cut 4 bytes short inside a
      // CRC-valid page — the last comment's declared length no longer
      // fits, so exactly it drops (opus loses ARTIST, vorbis ALBUM)
      val media = pipeline.Multimodal.synthesizeOggPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeOggTags(media, "payload")
        .select("doc_id", "codec", "vendor", "title", "artist", "album",
          "n_comments")
        .orderBy("doc_id")
    },
    "multimodal_id3_tags" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: ID3v2 TEXT-FRAME walk — the audio-metadata twin of the
      // EXIF walk: v2.3 plain frame sizes (even ids) vs v2.4 SYNCSAFE
      // (odd — the TIT2 body is >127 bytes so the encodings actually
      // diverge), ISO-8859-1 and UTF-8 text encodings, complete-frames
      // torn contract. Plants: id%31==0 garbage (has_id3 false),
      // id%31==11 torn into TALB (title/artist keep, album null)
      val media = pipeline.Multimodal.synthesizeId3Payloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeId3Meta(media, "payload")
        .select("doc_id", "has_id3", "version", "title", "artist",
          "album", "n_frames")
        .orderBy("doc_id")
    },
    "multimodal_exif_probe" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: EXIF/TIFF IFD walk off JPEG APP1 segments — orientation
      // (the tag that silently rotates phone photos before any pixel
      // pass), camera make/model (ASCII by-offset AND inline), ExifIFD
      // pixel dims (LONG), BOTH byte orders (II even ids, MM odd).
      // Corruption planted in the gate: id%43==0 md5 garbage, id%43==9
      // a valid JPEG with no APP1 — both read has_exif=false with nulls
      val media = pipeline.Multimodal.synthesizeExifJpegPayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeExifMeta(media, "payload")
        .select("doc_id", "has_exif", "byte_order", "orientation",
          "make", "model", "pixel_x", "pixel_y")
        .orderBy("doc_id")
    },
    "multimodal_video_probe" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r14: MP4/ISO-BMFF box walk (ftyp/moov/mvhd/trak/tkhd/stsd) — the
      // dominant crawled-video container's header-only pass: duration,
      // track count, video dims (tkhd 16.16), codec fourcc, all without
      // touching sample data. Corruption planted IN the gate: id%41==0
      // md5 garbage → 'unknown', id%41==7 ftyp-only truncation → 'mp4'
      // with every moov field null (the crawl-truncation contract);
      // oracle recomputes the builder arithmetic
      val media = pipeline.Multimodal.synthesizeMp4Payloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeVideoMeta(media, "payload")
        .select("doc_id", "format", "duration_ms", "n_tracks",
          "width", "height", "codec")
        .orderBy("doc_id")
    },
    "multimodal_video_tracks" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r15: frame-accurate stts/stsz SAMPLE-TABLE walk (the r14
      // verdict's queued item) — per track: id (tkhd), handler (hdlr),
      // media timescale + duration (mdhd v0 AND v1), sample count +
      // duration summed from the two-entry stts table, total payload
      // bytes from stsz (explicit table on video, uniform-size on
      // audio), bitrate = total*8*timescale DIV stts-units. Plants:
      // id%41 in (0,7) parse to no tracks (garbage / ftyp-only) and
      // id%41==13 drops the video stsz (total/bitrate null, stts live);
      // r15b: stss keyframe readout — video tracks carry a sync table
      // (every 4+id%6 samples), audio none (ISO absent-stss = all-sync)
      val media = pipeline.Multimodal.synthesizeMp4SampleTablePayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeVideoTracks(media, "payload")
        .select("doc_id", "track_id", "handler", "timescale",
          "mdhd_duration_ms", "n_samples", "stts_duration_ms",
          "total_bytes", "bitrate_bps", "n_sync_samples", "max_sync_gap")
        .orderBy("doc_id", "track_id")
    },
    "multimodal_video_chunks" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: stsc + stco/co64 CHUNK-OFFSET walk — the byte-range
      // fetch-planning readout the stts/stsz walk left out: per track,
      // chunk count, first/last absolute offsets (stco 32-bit on even
      // ids, co64 64-bit on odd — both widths parsed), total samples
      // from the stsc run-length expansion (== n_samples: the fetch
      // planner's consistency audit) and the largest single-chunk byte
      // span (stsc × stsz — the max contiguous range one fetch pulls).
      // Plants: id%41 in (0,7) no tracks; id%41==13 stsz absent →
      // max_chunk_bytes null, offsets live; id%41==19 chunk tables
      // absent on video → all chunk fields null, audio unaffected
      val media = pipeline.Multimodal.synthesizeMp4SampleTablePayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeVideoChunks(media, "payload")
        .select("doc_id", "track_id", "handler", "n_chunks",
          "first_offset", "last_offset", "chunk_samples", "max_chunk_bytes")
        .orderBy("doc_id", "track_id")
    },
    "multimodal_video_ranges" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the chunk tables EXPLODED per chunk — the concrete
      // byte-range fetch plan a frame-accurate reader issues: one row
      // per (track, chunk) with absolute offset, samples inside, and
      // the contiguous byte span (null on the stsz-absent plant).
      // Tracks without offsets or mapping contribute no rows
      val media = pipeline.Multimodal.synthesizeMp4SampleTablePayloads(
        s.table("documents"), "doc_id")
      pipeline.Multimodal.probeVideoChunkRanges(media, "payload")
        .select(col("doc_id"), col("track_id"), col("handler"),
          col("chunk"), col("offset").as("chunk_offset"),
          col("n_samples"), col("chunk_bytes"))
        .orderBy("doc_id", "track_id", "chunk")
    },
    "multimodal_meta" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL decode end-to-end: the builder writes actual PNGs (even ids)
      // and animated GIFs (odd ids, 1+id%4 frames) via the JDK encoders;
      // decodeMeta reads format/dims/frame-count off javax.imageio. The
      // oracle replays the builder's id arithmetic — builder and decoder
      // must agree exactly. n_bytes is excluded (a real encoder's output
      // size is not SQL-replayable).
      val media = pipeline.Multimodal.synthesizeImagePayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.decodeMeta(s, media)
        .toDF()
        .select("doc_id", "media_type", "width", "height", "n_frames")
        .orderBy("doc_id")
    },

    "multimodal_frames" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL frame sampling: every 2nd image descriptor of the container,
      // with the frame's own decoded dimensions (GIF animations; PNG =
      // single frame 0)
      val media = pipeline.Multimodal.synthesizeImagePayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.sampleFrames(s, media, everyNth = 2)
        .orderBy("doc_id", "frame")
    },
    "multimodal_resize" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL resize: decode → nearest-neighbor downscale to fit 40×32 →
      // re-encode PNG → decode AGAIN (proves the re-encoded payload
      // parses); target dims are pure integer arithmetic, replayed by the
      // oracle
      val media = pipeline.Multimodal.synthesizeImagePayloads(s.table("documents"), "doc_id")
      val resized = pipeline.Multimodal.resizePixels(s, media, maxW = 40, maxH = 32)
      pipeline.Multimodal.decodeMeta(s, resized.select("doc_id", "payload"))
        .toDF()
        .select("doc_id", "media_type", "width", "height")
        .orderBy("doc_id")
    },
    "multimodal_pcm_stats" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL 16-bit PCM statistics off the WAV data chunk (chunk walk +
      // sample loop, integer arithmetic only); the builder packs planted
      // id-derived samples, the oracle replays them — byte-exact
      val media = pipeline.Multimodal.synthesizeWavPcmPayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.pcmStats(s, media)
        .orderBy("doc_id", "channel")
    },
    "multimodal_pcm_silence" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL silence analysis (trim points + longest dead-air run) over
      // planted leading/trailing/mid silence — the quiet mid-run is
      // small-but-NONZERO so the |s| < threshold semantics are exercised,
      // not just zero detection
      val media = pipeline.Multimodal.synthesizeWavSilencePayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.pcmSilence(s, media, threshold = 256)
        .orderBy("doc_id", "channel")
    },
    "multimodal_image_stats" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL pixel statistics (min/max/mean luma — the near-black /
      // flat-image curation filters) off the fully decoded raster; on the
      // replicated-grid PNGs the stats equal the planted grid's, so the
      // oracle replays the builder arithmetic
      val media = pipeline.Multimodal.synthesizeGridPayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.imageStats(s, media)
        .orderBy("doc_id")
    },
    "multimodal_decode_tolerant" -> { (s, dir) =>
      prep(s, dir, "documents")
      // crawl-scale decode contract: planted corruption (doc_id%37==0 →
      // 0x11-prefixed md5 garbage no ImageIO reader claims; %37==5 → PNG
      // truncated to 64 bytes — IHDR intact, IDAT missing, so the reader
      // CLAIMS it then chokes mid-decode) flows through the tolerant
      // stats pass as accounted reject rows instead of killing the job;
      // survivors replay the planted grid arithmetic exactly
      val media = pipeline.Multimodal.synthesizeGridPayloads(s.table("documents"), "doc_id")
      val planted = media.withColumn("payload",
        when(col("doc_id") % 37 === 0,
          concat(lit(Array[Byte](0x11)), unhex(md5(col("doc_id").cast("string")))))
        .when(col("doc_id") % 37 === 5, expr("substring(payload, 1, 64)"))
        .otherwise(col("payload")))
      pipeline.Multimodal.imageStatsTolerant(s, planted)
        .orderBy("doc_id")
    },
    "multimodal_jpeg_meta" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL JPEG decode, metadata pass: dims/format/frame-count survive
      // the lossy codec exactly (id-derived geometry replays in SQL);
      // n_bytes dropped — encoder output length is not SQL-replayable
      val media = pipeline.Multimodal.synthesizeJpegPayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.decodeMeta(s, media)
        .select("doc_id", "media_type", "width", "height", "n_frames")
        .orderBy("doc_id")
    },
    "multimodal_resolution_screen" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r11: the geometry gate (min-side + aspect ratio) off REAL
      // PNG/GIF header decode; id-derived dims replay in SQL so the
      // whole screen hash-gates, rule attribution included
      val media = pipeline.Multimodal.synthesizeImagePayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.resolutionScreen(s, media)
        .orderBy("doc_id")
    },
    "multimodal_jpeg_stats" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r13 TOLERANCE GATE — graduated from rows-only: JPEG pixels are
      // lossy-codec output (deterministic, not SQL-replayable), so the
      // HASH-GATED contract is the tolerance VERDICT vs the planted
      // gradient — dims exact through the codec, the gradient's expected
      // mean replayed as pure id arithmetic on both sides, and the REAL
      // decoded mean within the spec-pinned ±2 band. A decode drift past
      // tolerance flips the boolean and breaks the hash. Raw decoded
      // stats stay hash-gated EXACTLY on lossless PNG payloads in
      // multimodal_image_stats (same imageStats operator).
      val media = pipeline.Multimodal.synthesizeJpegPayloads(s.table("documents"), "doc_id")
      val stats = pipeline.Multimodal.imageStats(s, media)
      stats
        .withColumn("__es", expr(
          """aggregate(sequence(0, height - 1), CAST(0 AS BIGINT), (acc, y) ->
               acc + aggregate(sequence(0, width - 1), CAST(0 AS BIGINT), (a, x) ->
                 a + (x * 3 + y * 5 + doc_id * 11) % 240))"""))
        .withColumn("expected_mean_luma",
          expr("__es DIV (CAST(width AS BIGINT) * height)"))
        .select(col("doc_id"), col("width"), col("height"),
          col("expected_mean_luma"),
          (abs(col("luma_mean") - col("expected_mean_luma")) <= 2)
            .as("luma_within_2"))
        .orderBy("doc_id")
    },
    "multimodal_sharpness" -> { (s, dir) =>
      prep(s, dir, "documents")
      // REAL Sobel gradient energy off the decoded raster — the blur /
      // flat screen; oracle replays the planted grid at pixel level
      // while the query runs encode→decode→convolve on actual PNGs
      val media = pipeline.Multimodal.synthesizeGridPayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.sobelEnergy(s, media)
        .orderBy("doc_id")
    },
    "multimodal_frame_phash" -> { (s, dir) =>
      prep(s, dir, "documents")
      // video-style frame near-dup: REAL per-frame decode of animated
      // GIFs (indexed gray palette = lossless) → dHash per frame; the
      // planted grids advance one perturbed cell per frame, so
      // consecutive frames sit within 4 bits
      val media = pipeline.Multimodal.synthesizeGridGifPayloads(s.table("documents"), "doc_id")
      pipeline.Multimodal.frameDHash(s, media)
        .orderBy("doc_id", "frame")
    },
    "events_funnel" -> { (s, dir) =>
      prep(s, dir, "events")
      // classic funnel: users who signed up, then viewed AFTER signup, then
      // purchased AFTER that view — per-user min-timestamp staging (three
      // partial-aggregated mins, no self-joins over the event log)
      s.sql("""
        WITH stage AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
          FROM events GROUP BY user_id),
        v AS (
          SELECT e.user_id, min(e.ts) AS t_view
          FROM events e JOIN stage s ON s.user_id = e.user_id
          WHERE e.event_type = 'view' AND e.ts > s.t_signup
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > v.t_view
          GROUP BY e.user_id)
        SELECT CAST(count(DISTINCT stage.user_id) AS BIGINT) AS n_signup,
               CAST(count(DISTINCT v.user_id) AS BIGINT) AS n_viewed,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_purchased
        FROM stage
        LEFT JOIN v ON v.user_id = stage.user_id
        LEFT JOIN p ON p.user_id = stage.user_id
        WHERE stage.t_signup IS NOT NULL""")
    },
    "events_retention" -> { (s, dir) =>
      prep(s, dir, "events")
      // cohort retention: users grouped by first-seen day, activity counted
      // by day offset — the standard growth-analytics triangle
      s.sql("""
        WITH first_seen AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY user_id)
        SELECT f.cohort_day,
               CAST(datediff(CAST(e.ts AS DATE), f.cohort_day) AS INT) AS day_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
        FROM events e
        JOIN first_seen f ON f.user_id = e.user_id
        WHERE datediff(CAST(e.ts AS DATE), f.cohort_day) <= 7
        GROUP BY f.cohort_day, datediff(CAST(e.ts AS DATE), f.cohort_day)
        ORDER BY cohort_day, day_offset""")
    },
    "rel_interval_overlap" -> { (s, dir) =>
      prep(s, dir, "events")
      // interval × interval overlap through the binned equi join: weekly
      // per-user activity spans of two event types, anchored-bin dedup,
      // no inequality join anywhere
      val iv = s.table("events")
        .groupBy(col("user_id"), col("event_type"), date_trunc("week", col("ts")).as("wk"))
        .agg(unix_timestamp(min(col("ts"))).as("s"),
          (unix_timestamp(max(col("ts"))) + 1).as("e"))
      val a = iv.where(col("event_type") === "view" && col("user_id") % 10 === 0)
        .select(col("user_id").as("a_user"), col("s").as("a_s"), col("e").as("a_e"))
      val b = iv.where(col("event_type") === "purchase" && col("user_id") % 10 === 5)
        .select(col("user_id").as("b_user"), col("s").as("b_s"), col("e").as("b_e"))
      pipeline.Relational.intervalOverlapJoin(a, b, "a_s", "a_e", "b_s", "b_e", 86400L)
        .select(col("a_user"), col("b_user"), col("a_s"), col("b_s"),
          (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
            .as("overlap_secs"))
        .orderBy("a_user", "b_user", "a_s", "b_s")
    },
    "events_resample_gapfill" -> { (s, dir) =>
      prep(s, dir, "events")
      // calendar resample + gap-fill: every (user, day) in the user's
      // active span gets a row, silent days as explicit zeros; values
      // fixed to cents pre-sum so the rollup is integer-exact
      pipeline.TimeSeries.resampleGapFill(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id", "day")
    },
    "events_rolling_7d" -> { (s, dir) =>
      prep(s, dir, "events")
      // trailing 7-day rolling totals over the gap-filled spine — the
      // ROWS frame IS the calendar window because every day materializes
      pipeline.TimeSeries.rollingDaily(s.table("events"), "user_id", "ts", "value", 7)
        .orderBy("user_id", "day")
    },
    "events_anomalies" -> { (s, dir) =>
      prep(s, dir, "events")
      // trailing-baseline z-score anomalies, integer cross-multiplied —
      // no sqrt/float anywhere, the tested day never taints its baseline
      pipeline.TimeSeries.anomalies(s.table("events"), "user_id", "ts", "value",
          nDays = 7, k = 2)
        .select("user_id", "day", "value_cents", "base_days", "base_sum", "is_anomaly")
        .orderBy("user_id", "day")
    },
    "events_forward_fill" -> { (s, dir) =>
      prep(s, dir, "events")
      // LOCF imputation over the gap-filled spine: silent days carry the
      // last OBSERVED day's value, not zero — one key-partitioned window
      pipeline.TimeSeries.forwardFill(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id", "day")
    },
    "events_rolling_median" -> { (s, dir) =>
      prep(s, dir, "events")
      // trailing-7d exact median of daily spend per user — the robust
      // rolling baseline a spike-owned mean can't give; contribution
      // explode, per-window percentile over ≤7 values
      pipeline.TimeSeries.rollingPercentileDaily(s.table("events"),
          "user_id", "ts", "value", nDays = 7)
        .select(col("user_id"), col("win_day"),
          floor(col("p_value") * 100 + 0.5).cast("long").as("med_c"))
        .orderBy("user_id", "win_day")
    },
    "events_stickiness" -> { (s, dir) =>
      prep(s, dir, "events")
      // DAU/WAU stickiness ppm per day — the habit metric: both sides
      // EXACT (the nDays=1 run IS the DAU), joined on the day spine
      val ev = s.table("events").withColumn("__all", lit("all"))
      val dau = pipeline.TimeSeries.rollingDistinct(ev, "__all", "ts",
          "user_id", nDays = 1)
        .select(col("win_day"), col("n_distinct").as("dau"))
      val wau = pipeline.TimeSeries.rollingDistinct(ev, "__all", "ts",
          "user_id", nDays = 7)
        .select(col("win_day"), col("n_distinct").as("wau"))
      dau.join(wau, Seq("win_day"))
        .select(col("win_day"), col("dau"), col("wau"),
          expr("CAST((dau * 1000000) DIV wau AS BIGINT)").as("stickiness_ppm"))
        .orderBy("win_day")
    },
    "events_rolling_actives" -> { (s, dir) =>
      prep(s, dir, "events")
      // exact trailing-7d distinct users per event type (the WAU family)
      // — contribution explode, never a per-window rescan or an HLL bar
      pipeline.TimeSeries.rollingDistinct(s.table("events"), "event_type",
          "ts", "user_id", nDays = 7)
        .orderBy("event_type", "win_day")
    },
    "ts_ewma" -> { (s, dir) =>
      prep(s, dir, "events")
      // per-user integer EWMA (α=1/4) of daily spend over the gap-filled
      // spine — the floor recurrence replays bit-for-bit in the DuckDB
      // recursive-CTE oracle; silent days smooth toward zero
      pipeline.TimeSeries.ewma(s.table("events"), "user_id", "ts", "value",
          alphaNum = 1, alphaDen = 4)
        .orderBy("user_id", "day")
    },
    "ts_backtest" -> { (s, dir) =>
      prep(s, dir, "events")
      // rolling-origin backtest: one-step EWMA error vs persistence per
      // user — the "does the smoother actually forecast" gate
      pipeline.TimeSeries.forecastBacktest(s.table("events"), "user_id",
          "ts", "value", alphaNum = 1, alphaDen = 4)
        .orderBy("user_id")
    },
    "ts_conformal" -> { (s, dir) =>
      prep(s, dir, "events")
      // r14: split-conformal forecast band at 90% — the error bar the
      // point-forecast family ships without: band half-width = the
      // ceil((n+1)·0.9)-th smallest one-step EWMA |residual| per user
      // (an order statistic, hash-exact); under-calibrated users read
      // a NULL band, never a fake interval
      pipeline.TimeSeries.conformalBand(s.table("events"), "user_id",
          "ts", "value", alphaPpm = 100000)
        .orderBy("user_id")
    },
    "ts_holt" -> { (s, dir) =>
      prep(s, dir, "events")
      // Holt level+trend (α=1/4, β=1/2) per user over the spine, 7-day
      // forecast — the what's-next baseline an EWMA's lag can't give;
      // DuckDB recursive-CTE replay of both recurrences
      pipeline.TimeSeries.holt(s.table("events"), "user_id", "ts", "value",
          1, 4, 1, 2, horizon = 7)
        .orderBy("user_id")
    },
    "ts_holt_winters" -> { (s, dir) =>
      prep(s, dir, "events")
      // Holt-Winters additive weekly seasonality (α=1/4, β=1/8, γ=1/4,
      // period 7) per user, 7-day-ahead forecast — the cycle-aware
      // completion of the EWMA→Holt ladder; the DuckDB oracle replays
      // all three recurrences (seasonal slots as 7 rotated columns) in
      // a recursive CTE
      pipeline.TimeSeries.holtWinters(s.table("events"), "user_id", "ts",
          "value", 1, 4, 1, 8, 1, 4, period = 7, horizon = 7)
        .orderBy("user_id")
    },
    "ts_seasonal" -> { (s, dir) =>
      prep(s, dir, "events")
      // classical additive decomposition of per-type daily spend
      // (period 7): value = trend + seasonal + residual, integer cents,
      // NULL components on the MA edges — never a fabricated cycle
      pipeline.TimeSeries.seasonalDecompose(s.table("events"),
          "event_type", "ts", "value", period = 7)
        .orderBy("event_type", "day")
    },
    "ts_seasonal_even" -> { (s, dir) =>
      prep(s, dir, "events")
      // EVEN-period decomposition (r13): monthly-12 cycle via the classic
      // centered 2×MA — (period+1)-row window with half-weighted endpoints,
      // integer-exact as (2·Σ − first − last) DIV 24; edges NULL one row
      // wider per side than the odd case
      pipeline.TimeSeries.seasonalDecompose(s.table("events"),
          "event_type", "ts", "value", period = 12)
        .orderBy("event_type", "day")
    },
    "ts_cusum" -> { (s, dir) =>
      prep(s, dir, "events")
      // one-sided CUSUM drift detector per user: 7-day baseline mean,
      // $50/day slack, $500 alarm threshold — the prefix-sum closed form
      // of Page's max-recurrence, scaled by the baseline length so the
      // whole detector is integer-exact (no mean division)
      pipeline.TimeSeries.cusum(s.table("events"), "user_id", "ts", "value",
          baselineDays = 7, slackCents = 5000L, thresholdCents = 50000L)
        .orderBy("user_id")
    },
    "ts_theil_sen" -> { (s, dir) =>
      prep(s, dir, "events")
      // Theil-Sen robust daily-spend trend per user: lower median of all
      // pairwise integer slopes over the gap-filled spine — the
      // outlier-proof twin of events_trend's OLS
      pipeline.TimeSeries.theilSen(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id")
    },
    "events_bot_screen" -> { (s, dir) =>
      prep(s, dir, "events")
      // bot/automation screen: high-volume metronomic users by exact
      // median inter-event gap (x2-integral, the rel_mad convention) —
      // the behavioral complement of the content-quality battery — r11
      pipeline.TimeSeries.botScreen(s.table("events"), "user_id", "ts",
          minEvents = 60, maxMedianGapMs = 25000000L)
        .orderBy("user_id")
    },
    "pipeline_temporal_split" -> { (s, dir) =>
      prep(s, dir, "events")
      // leakage-safe TEMPORAL split: train on the past, evaluate on the
      // future — exact-percentile cutoffs, max(train ts) <= min(test ts)
      // structural. Summary per split (the assignment is a pure map) — r11
      pipeline.Maintenance.temporalSplit(s.table("events"), "ts")
        .groupBy("split")
        .agg(count(lit(1)).as("n_rows"),
          min(unix_micros(col("ts").cast("timestamp"))).as("min_ts_micros"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_micros"))
        .orderBy("split")
    },
    "ts_mann_kendall" -> { (s, dir) =>
      prep(s, dir, "events")
      // Mann-Kendall trend TEST per user: the nonparametric significance
      // companion of ts_theil_sen — exact integer S and tie-corrected
      // 18·Var(S), continuity-corrected z in milli-units (one IEEE sqrt,
      // the house allowance) — r11
      pipeline.TimeSeries.mannKendall(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id")
    },
    "ts_cusum_deseasonal" -> { (s, dir) =>
      prep(s, dir, "events")
      // COMPOSED drift detection net of the weekly rhythm: the CUSUM
      // detector core over dow-adjusted residuals — the alerting shape
      // where a raw-value CUSUM fires every strong Monday; cusumOnSpine
      // runs unchanged on the derived series (the composition is the
      // point)
      val resid = pipeline.TimeSeries.dowAdjusted(s.table("events"),
        "user_id", "ts", "value")
      pipeline.TimeSeries.cusumOnSpine(resid, "user_id", "day",
          "residual_cents", baselineDays = 7, slackCents = 1000L,
          thresholdCents = 30000L)
        .orderBy("user_id")
    },
    "ts_seasonal_anomaly" -> { (s, dir) =>
      prep(s, dir, "events")
      // COMPOSED seasonality-aware alerting: seasonalDecompose's residual
      // (growth and weekday rhythm already explained away) screened by
      // the per-key robust MAD rule — |resid − med| > 3·max(mad, 1);
      // residuals are integers and R-7 medians of integers land on .0/.5,
      // so the verdict is exact and the med/mad pins go out ×2 integral
      val dec = pipeline.TimeSeries.seasonalDecompose(s.table("events"),
        "event_type", "ts", "value", period = 7)
      val resid = dec.where(col("residual_cents").isNotNull)
      val m = pipeline.Relational.mad(resid, Seq("event_type"), "residual_cents")
      resid.join(broadcast(m), "event_type")
        .where(abs(col("residual_cents").cast("double") - col("med")) >
          lit(3.0) * greatest(col("mad"), lit(1.0)))
        .select(col("event_type"), col("day"), col("value_cents"),
          col("residual_cents"),
          expr("CAST(med * 2 AS BIGINT)").as("med_x2"),
          expr("CAST(mad * 2 AS BIGINT)").as("mad_x2"))
        .orderBy("event_type", "day")
    },
    "dedup_time_scoped" -> { (s, dir) =>
      prep(s, dir, "events")
      // COMPOSED time-scoped dedup — the crawl policy "drop re-crawls,
      // allow a refresh once the content has been quiet for the window":
      // occurrences of one content key sessionize on a 7-day gap
      // (sessionizeBatch unchanged — the content key rides its user_id
      // seat) and each session IS one retained crawl epoch; first_seen
      // is the kept row, n_events − 1 the dropped re-crawls
      val occ = s.table("events").select(
        concat_ws("|", col("user_id"), col("event_type")).as("user_id"),
        col("ts"), col("event_id"))
      streaming.EventStreams.sessionizeBatch(occ, gapMinutes = 7 * 24 * 60)
        .select(col("user_id").as("content_key"),
          col("session_id").as("crawl_epoch"),
          col("session_start").as("first_seen"),
          (col("n_events") - 1L).as("n_dropped"))
        .orderBy("content_key", "crawl_epoch")
    },
    "ts_islands" -> { (s, dir) =>
      prep(s, dir, "events")
      // gaps-and-islands coverage: weekly per-(user, type) activity spans
      // merged into maximal contiguous islands per user — overlap counted
      // once, touching spans contiguous; one exchange for both windows
      val iv = s.table("events")
        .groupBy(col("user_id"), col("event_type"), date_trunc("week", col("ts")).as("wk"))
        .agg(unix_timestamp(min(col("ts"))).as("s"),
          (unix_timestamp(max(col("ts"))) + 1).as("e"))
      pipeline.TimeSeries.intervalIslands(iv, "user_id", "s", "e")
        .orderBy("user_id", "island_start")
    },
    "events_dow_profile" -> { (s, dir) =>
      prep(s, dir, "events")
      // day-of-week seasonality per event type: ISO weekday share in
      // integer ppm — the weekly-rhythm readout that separates "traffic
      // dropped" from "it's Sunday"
      pipeline.TimeSeries.dowProfile(s.table("events"), "event_type", "ts", "value")
        .orderBy("event_type", "dow")
    },
    "pipeline_benford" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // Benford first-digit audit over price cents: integer shares vs the
      // ppm-rounded log10(1+1/d) constants — the fabricated-data /
      // unit-mixup smell test, exclusions accounted on every row
      val v = s.table("lineitem").select(
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      pipeline.Maintenance.benfordAudit(v, "cents").orderBy("digit")
    },
    "events_decile_lift" -> { (s, dir) =>
      prep(s, dir, "events")
      // decile lift / gains table (composed): does total spend predict
      // being a big-ticket buyer (any purchase ≥ $300)? Spend deciles
      // via the exact-percentile bucketer (boundary pass + pure map —
      // NO global sort), per-decile response rate, lift vs overall, and
      // the cumulative gain walking from the top-spend decile down —
      // the model-eval readout completing calibration/kappa/P-R-F1
      val users = s.sql("""
        SELECT user_id,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS spend_cents,
               max(CASE WHEN event_type = 'purchase' AND value >= 300.0
                        THEN 1L ELSE 0L END) AS responder
        FROM events GROUP BY user_id""")
      val bucketed = pipeline.Relational.quantileBuckets(users,
        "spend_cents", nBuckets = 10)
      val agg = bucketed.groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("responder").as("n_resp"))
      val tot = agg.agg(sum("n").as("__tn"), sum("n_resp").as("__tx"))
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      agg.withColumn("__cum", sum("n_resp").over(wCum))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"), col("n_resp"),
          expr("(n_resp * 1000000L) DIV n").as("resp_ppm"),
          expr("""CASE WHEN __tx > 0 THEN
                 CAST((CAST(n_resp AS DECIMAL(38,0)) * __tn * 1000000)
                      DIV (CAST(n AS DECIMAL(38,0)) * __tx) AS BIGINT) END""")
            .as("lift_ppm"),
          expr("CASE WHEN __tx > 0 THEN (__cum * 1000000L) DIV __tx END")
            .as("cum_gain_ppm"))
        .orderBy(col("bucket").desc)
    },
    "events_wilson_ranking" -> { (s, dir) =>
      prep(s, dir, "events")
      // campaigns ranked by the Wilson LOWER bound of their engaged-view
      // rate — 2-for-2 never outranks 80-for-100; jq extracts the
      // campaign from the JSON payload
      val per = s.sql("""
        SELECT CAST(x.k % 5 AS BIGINT) AS campaign,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM events LATERAL VIEW jq(props, '{k}', 'k:int') x
        WHERE event_type = 'view'
        GROUP BY x.k % 5""")
      per.withColumn("wilson_ppm",
          pipeline.Relational.wilsonLowerPpm(col("pos"), col("n")))
        .orderBy(col("wilson_ppm").desc, col("campaign"))
    },
    "events_rate_limit" -> { (s, dir) =>
      prep(s, dir, "events")
      // quota audit: (user, hour) buckets over the limit — the abuse /
      // runaway-client sweep as one tumbling-window rollup
      s.sql("""
        SELECT user_id, date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY user_id, date_trunc('hour', ts)
        HAVING count(*) > 1
        ORDER BY user_id, hour""")
    },
    "rel_basket_rules" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // market-basket association rules over order baskets: top-25 by
      // lift — confidence plus the base-rate correction separating a
      // real rule from two popular items
      val li = s.table("lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      pipeline.Relational.basketRules(li, "basket", "item",
        minSupport = 3, k = 25)
    },
    "pipeline_freshness" -> { (s, dir) =>
      prep(s, dir, "events")
      // per-type feed freshness vs a FIXED asOf anchor (replayable —
      // a wall-clock anchor could never be hash-gated)
      pipeline.Maintenance.freshnessAudit(s.table("events"), "event_type",
          "ts", to_timestamp(lit("2024-02-01 00:00:00")))
        .orderBy("event_type")
    },
    "ts_autocorrelation" -> { (s, dir) =>
      prep(s, dir, "events")
      // per-type daily-revenue ACF at lags 1..7 — the periodicity
      // detector; decimal moments, double only at the pinned final cast
      pipeline.TimeSeries.autocorrelation(s.table("events"), "event_type",
          "ts", "value", maxLag = 7)
        .orderBy("event_type", "lag")
    },
    "ts_dow_adjusted" -> { (s, dir) =>
      prep(s, dir, "events")
      // weekday-adjusted residuals per user — deseasonalization so
      // Sundays stop tripping flat-baseline anomaly rules
      pipeline.TimeSeries.dowAdjusted(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id", "day")
    },
    "rel_chi_square" -> { (s, dir) =>
      prep(s, dir, "events")
      // is the event mix independent of the weekday? — chi-square over
      // the full event_type × isodow contingency grid, zero cells
      // included, per-cell integer terms
      val ev = s.table("events").select(col("event_type"),
        (expr("weekday(ts)") + 1).cast("string").as("dow"))
      pipeline.Relational.chiSquareTest(ev, "event_type", "dow")
    },
    "rel_cramers_v" -> { (s, dir) =>
      prep(s, dir, "events")
      // r11: the effect-size companion — same grid, V = sqrt(chi2 /
      // (n * min(r-1, c-1))): at 1e8 rows a huge chi2 can mean a
      // practically irrelevant association; V in [0,1] does not grow with n
      val ev = s.table("events").select(col("event_type"),
        (expr("weekday(ts)") + 1).cast("string").as("dow"))
      pipeline.Relational.cramersV(ev, "event_type", "dow")
    },
    "graph_ktruss" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // 5-truss of the co-purchase graph (tenth-of-orders sample — the
      // dense quarter graph makes this the one bench query over 10 s):
      // every surviving edge sits in ≥ 3 triangles of the surviving
      // subgraph, peeled synchronously to a checked fixpoint
      val li = s.table("lineitem").where(col("l_orderkey") % 10 === 0)
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
      pipeline.Graph.kTruss(e, "src", "dst", k = 5).orderBy("a", "b")
    },
    "graph_assortativity" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // degree assortativity of the co-purchase graph: one-number
      // topology fingerprint (hubs-to-hubs vs hubs-to-leaves)
      pipeline.Graph.assortativity(coPurchaseWedges(s), "src", "dst")
    },
    "text_source_overlap" -> { (s, dir) =>
      prep(s, dir, "documents")
      // pairwise source vocabulary Jaccard — the data-card overlap
      // matrix; vocab-sized equi join, fan-out bounded by sources²
      pipeline.TextAnalysis.sourceOverlap(s.table("documents"), "source", "text")
        .orderBy("s1", "s2")
    },
    "rel_ks_test" -> { (s, dir) =>
      prep(s, dir, "events")
      // two-sample KS drift gate: view-vs-purchase spend distributions,
      // integer cross-multiplied max-CDF-gap — no float before the verdict
      val ev = s.table("events").select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      pipeline.Relational.ksTest(ev, "cents", "event_type", "view", "purchase")
    },
    "events_cohort_ltv" -> { (s, dir) =>
      prep(s, dir, "events")
      // cohort LTV triangle: cumulative purchase cents per (cohort,
      // day offset) — retention's revenue twin; running sum over the
      // per-cohort collapsed frame, never the event log
      s.sql("""
        WITH first_seen AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
                            FROM events GROUP BY user_id),
        rev AS (SELECT f.cohort_day,
                  CAST(datediff(CAST(e.ts AS DATE), f.cohort_day) AS INT) AS day_offset,
                  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                FROM events e JOIN first_seen f ON f.user_id = e.user_id
                WHERE e.event_type = 'purchase'
                  AND datediff(CAST(e.ts AS DATE), f.cohort_day) <= 7
                GROUP BY 1, 2)
        SELECT cohort_day, day_offset, cents,
               CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS BIGINT) AS cum_cents
        FROM rev ORDER BY cohort_day, day_offset""")
    },
    "events_survival" -> { (s, dir) =>
      prep(s, dir, "events")
      // Kaplan-Meier churn curve with right-censoring: duration = first
      // to last active day; users still active at corpus end are
      // CENSORED, not counted as churned — the honest retention curve
      // hour-granularity lifetimes (the 30-day corpus has only ~3
      // distinct day-level durations); censoring cut = within 24h of
      // the corpus's last observed activity
      val subj = s.sql("""
        WITH m AS (SELECT max(ts) AS d1 FROM events),
        u AS (SELECT user_id, min(ts) AS f, max(ts) AS l
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
        SELECT (unix_timestamp(l) - unix_timestamp(f)) DIV 3600 AS duration,
               CASE WHEN l < (SELECT d1 FROM m) - INTERVAL 24 HOURS
                    THEN 1 ELSE 0 END AS churned
        FROM u""")
      pipeline.TimeSeries.kaplanMeier(subj, "duration", "churned")
        .orderBy("t")
    },
    "rel_welch_t" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // A/B on MEANS: do returned line items carry different prices —
      // Welch t² on extended-price cents, returnflag A vs R; exact
      // decimal moments, pinned-double statistic mirrored by the oracle
      val li = s.table("lineitem").select(col("l_returnflag").as("side"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
      pipeline.Relational.welchT(li, "cents", "side", "A", "R")
    },
    "rel_mann_whitney" -> { (s, dir) =>
      prep(s, dir, "events")
      // r11: the NONPARAMETRIC A/B twin of rel_welch_t on the rel_ks_test
      // frame — rank-sum on view-vs-purchase spend cents, tie-corrected,
      // continuity-corrected z in milli (the mannKendall readout idiom)
      val ev = s.table("events").select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      pipeline.Relational.mannWhitney(ev, "cents", "event_type", "view", "purchase")
    },
    "rel_kruskal" -> { (s, dir) =>
      prep(s, dir, "orders")
      // r11: k-sample location test — do the five order priorities carry
      // different totalprice distributions; H against χ²(4)
      val o = s.table("orders").select(col("o_orderpriority").as("grp"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      pipeline.Relational.kruskalWallis(o, "cents", "grp")
    },
    "rel_spearman" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r11: monotone association between quantity and extended price —
      // Pearson over exact 2×average-ranks, rho in ppm
      val li = s.table("lineitem").select(
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
      pipeline.Relational.spearman(li, "qty", "cents")
    },
    "rel_kendall_tau" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r11: pair-concordance rank correlation — exact tau-b over the
      // deterministic 2000-row md5 sample (the capped-quadratic contract)
      val li = s.table("lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
      pipeline.Relational.kendallTau(li, "rid", "qty", "cents")
    },
    "events_ab_conversion" -> { (s, dir) =>
      prep(s, dir, "events")
      // conversion A/B: per-user purchase conversion across two id
      // cohorts — z² against χ²(1), fully determined by four counts
      val users = s.table("events").where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("cohort", when(col("user_id") % 2 === 0, "a").otherwise("b"))
      pipeline.Relational.twoProportionZ(users, "converted", "cohort", "a", "b")
    },
    "events_survival_ab" -> { (s, dir) =>
      prep(s, dir, "events")
      // log-rank O-vs-E: do the two cohorts churn at the same rate,
      // censoring-aware — the comparison raw churn percentages get
      // wrong when censoring differs between arms
      val subj = s.sql("""
        WITH m AS (SELECT max(ts) AS d1 FROM events),
        u AS (SELECT user_id, min(ts) AS f, max(ts) AS l
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
        SELECT user_id % 2 AS cohort,
               (unix_timestamp(l) - unix_timestamp(f)) DIV 3600 AS duration,
               CASE WHEN l < (SELECT d1 FROM m) - INTERVAL 24 HOURS
                    THEN 1 ELSE 0 END AS churned
        FROM u""")
      pipeline.TimeSeries.logRank(subj, "duration", "churned", "cohort")
        .orderBy("cohort")
    },
    "events_rfm" -> { (s, dir) =>
      prep(s, dir, "events")
      // RFM segmentation: recency/frequency/monetary quintiles per
      // purchasing user — the classic lifecycle-marketing feature table,
      // composed from the exact-percentile discretizer (boundary pass +
      // pure-map assignment, no window over users)
      val p = s.table("events").where(col("event_type") === "purchase")
      val maxDay = p.agg(max(col("ts").cast("date")).as("d1"))
      val u = p.groupBy("user_id")
        .agg(max(col("ts").cast("date")).as("__last"),
          count(lit(1)).as("frequency"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("monetary_cents"))
        .crossJoin(broadcast(maxDay))
        .withColumn("recency_days", datediff(col("d1"), col("__last")).cast("long"))
        .drop("__last", "d1")
      val b = pipeline.Relational.quantileBuckets(
        pipeline.Relational.quantileBuckets(
          pipeline.Relational.quantileBuckets(u, "recency_days", 5, "rb"),
          "frequency", 5, "fb"),
        "monetary_cents", 5, "mb")
      b.select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          (lit(5) - col("rb")).cast("long").as("r_score"),
          (col("fb") + 1).cast("long").as("f_score"),
          (col("mb") + 1).cast("long").as("m_score"))
        .withColumn("rfm",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .orderBy("user_id")
    },
    "events_funnel_exclusion" -> { (s, dir) =>
      prep(s, dir, "events")
      // clean-conversion funnel: signup → first purchase, minus
      // conversions with an error event strictly between the two — the
      // "did they convert DESPITE a failure" split. Min-staging + ONE
      // bounded user-keyed join back to the log, never an event×event
      // self-join
      s.sql("""
        WITH st AS (SELECT user_id,
                      min(CASE WHEN event_type = 'signup' THEN ts END) AS t0
                    FROM events GROUP BY user_id),
        p AS (SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN st ON st.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > st.t0
              GROUP BY e.user_id),
        x AS (SELECT p.user_id,
                sum(CASE WHEN e.event_type = 'error' AND e.ts > st.t0 AND e.ts < p.t2
                         THEN 1 ELSE 0 END) AS n_err
              FROM p JOIN st ON st.user_id = p.user_id
              JOIN events e ON e.user_id = p.user_id
              GROUP BY p.user_id)
        SELECT CAST(sum(CASE WHEN st.t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(count(p.user_id) AS BIGINT) AS n_converted,
               CAST(sum(CASE WHEN x.n_err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
               CAST(CASE WHEN count(p.user_id) > 0
                    THEN (sum(CASE WHEN x.n_err = 0 THEN 1 ELSE 0 END) * 1000000) DIV count(p.user_id)
                    END AS BIGINT) AS clean_rate_ppm
        FROM st LEFT JOIN p ON p.user_id = st.user_id
                LEFT JOIN x ON x.user_id = st.user_id""")
    },
    "events_funnel_windowed" -> { (s, dir) =>
      prep(s, dir, "events")
      // conversion-window funnel: each stage must land within 7 days of
      // the previous one — the unbounded funnel overcounts users who
      // "converted" a month later for unrelated reasons
      s.sql("""
        WITH stage AS (SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS t0
               FROM events GROUP BY user_id),
        v AS (SELECT e.user_id, min(e.ts) AS t1
              FROM events e JOIN stage st ON st.user_id = e.user_id
              WHERE e.event_type = 'view' AND e.ts > st.t0
                AND e.ts <= st.t0 + INTERVAL 7 DAY
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > v.t1
                AND e.ts <= v.t1 + INTERVAL 7 DAY
              GROUP BY e.user_id)
        SELECT CAST(count(DISTINCT stage.user_id) AS BIGINT) AS n_signup,
               CAST(count(DISTINCT v.user_id) AS BIGINT) AS n_viewed_7d,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_purchased_7d
        FROM stage
        LEFT JOIN v ON v.user_id = stage.user_id
        LEFT JOIN p ON p.user_id = stage.user_id
        WHERE stage.t0 IS NOT NULL""")
    },
    "events_conversion_lag" -> { (s, dir) =>
      prep(s, dir, "events")
      // time-to-convert distribution: days from first signup to first
      // post-signup purchase per user — two min-aggregates, no event-log
      // self-join beyond the bounded per-user staging (the funnel rule)
      s.sql("""
        WITH su AS (SELECT user_id, min(ts) AS t0
                    FROM events WHERE event_type = 'signup' GROUP BY user_id),
        p AS (SELECT e.user_id, min(e.ts) AS t1
              FROM events e JOIN su ON su.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > su.t0
              GROUP BY e.user_id)
        SELECT CAST(datediff(CAST(p.t1 AS DATE), CAST(su.t0 AS DATE)) AS INT) AS lag_days,
               CAST(count(*) AS BIGINT) AS n_users
        FROM p JOIN su ON su.user_id = p.user_id
        GROUP BY 1 ORDER BY 1""")
    },
    "text_templates" -> { (s, dir) =>
      prep(s, dir, "events")
      // log-template mining: synthesized log lines (type, user id, cents,
      // a hex session token, the raw JSON payload) collapse to their
      // message shapes via deterministic uuid/hex/number masking — one
      // template per event type survives, counted
      val lines = s.sql("""
        SELECT concat(event_type, ' user=', user_id,
                      ' v=', CAST(floor(value * 100 + 0.5) AS BIGINT),
                      ' sess=', substr(md5(CAST(event_id AS STRING)), 1, 12),
                      ' props=', props) AS line
        FROM events""")
      pipeline.TextAnalysis.logTemplates(lines, "line", k = 20)
    },
    "emb_class_prototypes" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // per-label prototype exemplars: integer centroid (Σq DIV n per
      // dimension), then the 5 nearest members by exact quantized cosine
      pipeline.Similarity.classPrototypes(s.table("embeddings"),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("label", "rank")
    },
    "events_attribution" -> { (s, dir) =>
      prep(s, dir, "events")
      // last-touch conversion attribution: each purchase credits the
      // user's most recent view within 7 days, campaign jq-extracted from
      // the view's JSON payload — the asof join IS the attribution rule
      // (backward + tolerance; equal-time ties to the highest event_id),
      // and unattributed purchases stay visible as the NULL bucket
      val views = s.sql("""
        SELECT user_id, ts, event_id, CAST(x.k % 5 AS BIGINT) AS campaign
        FROM events LATERAL VIEW jq(props, '{k}', 'k:int') x
        WHERE event_type = 'view'""")
      val purchases = s.sql("""
        SELECT user_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'""")
      pipeline.Relational.asofJoin(purchases, views, Seq("user_id"),
          "ts", "ts", "event_id", Seq("campaign"),
          tolerance = Some(expr("INTERVAL 7 DAYS")))
        .groupBy(col("campaign_asof").as("campaign"))
        .agg(count(lit(1)).as("n_conversions"), sum(col("cents")).as("attributed_cents"))
        .orderBy(col("campaign").asc_nulls_first)
    },
    "events_trend" -> { (s, dir) =>
      prep(s, dir, "events")
      // per-user OLS daily-revenue slope over the gap-filled spine —
      // exact decimal moments (x = absolute epoch day; slope is
      // x-translation-invariant, so no per-key anchor window), IEEE
      // double only in the final num/den division
      pipeline.TimeSeries.trend(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id")
    },
    "events_changepoint" -> { (s, dir) =>
      prep(s, dir, "events")
      // per-user best mean-shift split day by the integer CUSUM argmax
      // |n·S_k − k·S_n| — no variance, no float, ties to earliest day
      pipeline.TimeSeries.changepoint(s.table("events"), "user_id", "ts", "value")
        .orderBy("user_id")
    },
    "pipeline_incremental_rollup" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // incremental aggregate maintenance: fold a delta batch's rollup
      // state into the stored history state instead of rescanning — the
      // oracle recomputes from scratch; the merge must be
      // indistinguishable (count/sum/min/max monoid, avg derived at read)
      val li = s.table("lineitem")
      val keys = Seq("l_returnflag", "l_linestatus")
      val hist = pipeline.Maintenance.rollupState(
        li.where(col("l_orderkey") % 4 =!= 3), keys, "l_extendedprice")
      val delta = pipeline.Maintenance.rollupState(
        li.where(col("l_orderkey") % 4 === 3), keys, "l_extendedprice")
      pipeline.Maintenance.rollupReport(
          pipeline.Maintenance.mergeRollups(keys, hist, delta))
        .orderBy("l_returnflag", "l_linestatus")
    },
    "pipeline_moment_maintenance" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r13: incremental SECOND-ORDER-moment maintenance — the
      // incremental_rollup idea extended to the bivariate moments every
      // exact-stat readout composes from: fold a delta batch's state into
      // the stored state, read correlation off the merged six numbers;
      // the oracle recomputes from scratch — the merge must be
      // indistinguishable
      val li = s.table("lineitem").select(col("l_returnflag"),
        col("l_orderkey"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("x"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"))
      val keys = Seq("l_returnflag")
      val hist = pipeline.Maintenance.momentState(
        li.where(col("l_orderkey") % 4 =!= 3), keys, "x", "y")
      val delta = pipeline.Maintenance.momentState(
        li.where(col("l_orderkey") % 4 === 3), keys, "x", "y")
      pipeline.Maintenance.correlationFromState(
          pipeline.Maintenance.mergeMomentStates(keys, hist, delta))
        .orderBy("l_returnflag")
    },
    "pipeline_integrity_audit" -> { (s, dir) =>
      prep(s, dir, "lineitem", "orders")
      // referential-integrity audit with a simulated lost parent
      // partition (orders o_orderkey % 10 == 0 vanished): their
      // lineitems must surface as orphans, in ppm of the child table
      pipeline.Maintenance.integrityAudit(
        s.table("lineitem"), "l_orderkey",
        s.table("orders").where(col("o_orderkey") % 10 =!= 0), "o_orderkey")
    },
    "rel_join_explode_audit" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // pre-flight join-explosion audit: the 10 part keys contributing
      // the most output rows to a lineitem⋈lineitem self-join, from
      // count profiles alone — the join itself never runs
      val li = s.table("lineitem")
      pipeline.Relational.joinCardinalityAudit(li, "l_partkey", li, "l_partkey", k = 10)
        .orderBy(col("est_pairs").desc, col("key"))
    },
    "emb_hard_negatives" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // contrastive hard negatives: per query, the top-10 most similar
      // vectors EXCLUDING self and its two labeled positives — exact
      // quantized cosine, positives + queries broadcast
      val emb = s.table("embeddings")
      val pos = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q"),
          explode(array(col("vec_id") + 37, col("vec_id") + 74)).as("p"))
      pipeline.Similarity.hardNegatives(emb, pos, "vec_id", "embedding",
          "q", "p", k = 10)
        .orderBy("query_id", "rank")
    },
    "emb_mutual_pairs" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // parallel-pair mining (bitext-style): mutual top-1 across the
      // even/odd halves of the corpus — exact quantized cosine, mutuality
      // is the precision filter (hub vectors fail the reverse test)
      val emb = s.table("embeddings")
      pipeline.Similarity.mutualNearest(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding")
        .orderBy("id_a")
    },
    "text_readability" -> { (s, dir) =>
      prep(s, dir, "documents")
      // Flesch reading-ease in milli-points, pure integer (vowel-group
      // syllable proxy, [.!?]+ sentence runs floored at 1) — the
      // readability-stratification axis of a pretraining mix
      pipeline.TextAnalysis.readability(s.table("documents"), "text")
        .select("doc_id", "n_sentences", "n_words", "n_syllables", "flesch_milli")
        .orderBy("doc_id")
    },
    "emb_decontam" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // SEMANTIC decontamination — the embedding-space complement of the
      // n-gram benchmark gate: every 25th vector plays the eval suite;
      // corpus vectors embedding next to any benchmark item get flagged
      // (threshold 0.4 sits at this corpus's p99, so both branches carry
      // real rows).
      // Exact by design (a decontam miss ships eval data into training);
      // the benchmark side is bounded by construction and broadcasts.
      val emb = s.table("embeddings")
      pipeline.Similarity.semanticDecontam(
          emb.where(col("vec_id") % 25 =!= 0),
          emb.where(col("vec_id") % 25 === 0),
          "vec_id", "embedding", thresholdScaled = 400000000L)
        .orderBy("vec_id")
    },
    "multimodal_sidecar_filter" -> { (s, dir) =>
      prep(s, dir, "documents")
      // jq × multimodal composition: a JSON license sidecar gates probed
      // binary metadata — keep CC-licensed images ≥ 64px wide; the jq
      // engine extracts the sidecar fields, MediaProbe reads the real
      // container headers (audio rows carry NULL width and drop)
      val docs = s.table("documents")
      val media = pipeline.Multimodal.synthesizeContainerPayloads(docs, "doc_id")
      val probed = pipeline.Multimodal.probeMeta(media, "payload")
      val sidecar = docs.select(col("doc_id"),
        concat(lit("{\"license\":\""),
          element_at(array(lit("cc"), lit("by"), lit("nc"), lit("arr")),
            (col("doc_id") % 4).cast("int") + 1),
          lit("\",\"origin\":"), (col("doc_id") % 7).cast("string"),
          lit("}")).as("meta"))
      probed.join(sidecar, "doc_id")
        .where(Graft.jqString(col("meta"), ".license") === "cc" &&
          col("width") >= 64)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          Graft.jqString(col("meta"), ".origin").as("origin"))
        .orderBy("doc_id")
    },
    "emb_mutual_pairs_blocked" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // the corpus×corpus scale path of emb_mutual_pairs: IVF-blocked
      // candidates (union of both directions' probes, shuffle list join —
      // nothing broadcasts a corpus) + exact rerank + mutuality over the
      // slice. r9: the INTEGER-EXACT quantizer (md5-spread sample, pure-
      // long Lloyd, d² probing) makes the whole pipeline DuckDB-
      // replayable, so this hash-gates (was rows-only); blocked ≡ exact
      // agreement stays pinned by spec, recall at scale in SCALE_PROBE.md.
      val emb = s.table("embeddings")
      pipeline.Similarity.mutualNearestIvfExact(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", nLists = 16, nProbe = 4, iters = 3)
        .orderBy("id_a")
    },
    "search_bm25" -> { (s, dir) =>
      prep(s, dir, "documents")
      // BM25 retrieval, integer fixed point end-to-end (bit-length idf;
      // ppm tf saturation): top-10 docs for a 3-term query mixing the
      // rarest vocab term with two common ones
      pipeline.Search.bm25TopK(s.table("documents"), "doc_id", "text",
        Seq("dup", "spark", "join"), 10)
    },
    "search_keywords" -> { (s, dir) =>
      prep(s, dir, "documents")
      // per-doc TF-IDF keywords through the bounded string top-k
      // aggregate — no window, ≤ k states per doc cross the shuffle
      pipeline.Search.keywordsTfIdf(s.table("documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    },
    "search_phrase" -> { (s, dir) =>
      prep(s, dir, "documents")
      // positional phrase match: docs containing "batch scan" as
      // CONSECUTIVE tokens, with occurrence counts — adjacency that
      // bag-of-words BM25 cannot see
      pipeline.Search.phraseCount(s.table("documents"), "doc_id", "text",
        Seq("batch", "scan"))
        .orderBy("doc_id")
    },
    "text_chunks_overlap" -> { (s, dir) =>
      prep(s, dir, "documents")
      // RAG-style overlapping windows: 16-token windows every 8 tokens —
      // facts straddling a boundary are whole in the next window
      pipeline.TextAnalysis.wordChunksOverlap(s.table("documents"), "doc_id", "text",
          windowWords = 16, strideWords = 8)
        .orderBy("doc_id", "chunk_id")
    },
    "text_collocations" -> { (s, dir) =>
      prep(s, dir, "documents")
      // PMI-style collocation mining: top-15 adjacent pairs by integer
      // lift (ppm), noise-floored at 10 occurrences
      pipeline.TextAnalysis.collocations(s.table("documents"), "text",
        minCount = 10L, k = 15)
    },
    "emb_label_outliers" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // per-label centroid outlier sweep: the 5 vectors least similar to
      // their own label's centroid — integer-quantized end-to-end
      pipeline.Similarity.labelCentroidOutliers(s.table("embeddings"),
        "vec_id", "embedding", "label", kPerLabel = 5)
        .orderBy("label", "rank")
    },
    "emb_knn_accuracy" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // leave-one-out 10-NN label agreement over the labeled eval set —
      // exact quantized cosine, majority vote with min-label ties
      pipeline.Similarity.knnLabelAccuracy(s.table("embeddings"),
          "vec_id", "embedding", "label", k = 10)
        .orderBy("vec_id")
    },
    "pipeline_weighted_sample" -> { (s, dir) =>
      prep(s, dir, "documents")
      // quality-weighted downsample: keep probability scales with doc
      // length (proxy weight), cross-multiplied integers — no floor loss
      pipeline.TextAnalysis.weightedSample(s.table("documents"), "doc_id",
          least(lit(1000000L), col("n_chars") * 2000L))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    "pipeline_dataset_card" -> { (s, dir) =>
      prep(s, dir, "documents")
      // the release manifest: size, composition cardinality, volume, and
      // the exact-dup rate in ppm — bit-replayable published numbers
      pipeline.Maintenance.datasetCard(s.table("documents"),
        "doc_id", "text", "source", "lang")
    },
    "text_oov_rate" -> { (s, dir) =>
      prep(s, dir, "documents")
      // OOV against the corpus' own top-500 vocabulary — the coverage
      // check run before committing to a tokenizer vocab
      val docs = s.table("documents")
      val vocab = pipeline.TextAnalysis.vocabulary(docs, "text", topN = 500)
        .select("token")
      pipeline.TextAnalysis.oovStats(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    },
    "pipeline_diversity_card" -> { (s, dir) =>
      prep(s, dir, "documents")
      // type-token ratios at unigram/bigram level — the self-repetition
      // release metric next to the dataset card
      pipeline.TextAnalysis.diversityCard(s.table("documents"), "text")
    },
    "graph_hits" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // integer HITS over the DIRECTED customer→supplier trade graph:
      // customers are the hubs (they point), suppliers the authorities
      // (they are pointed at) — 3 rounds, sum-normalized fixed point,
      // bit-replayable by the unrolled-CTE oracle. The directed edge set
      // is the forward half of the bidirected [[tradeEdges]] — supplier
      // ids sit at +1e6 by the build's own id-offset convention, so
      // src < 1e6 selects exactly the distinct cust→supplier pairs
      val e = tradeEdges(s).where(col("src") < 1000000L)
      pipeline.Graph.hits(e, "src", "dst", iterations = 3).orderBy("node")
    },
    "graph_links" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // link prediction on the co-purchase graph: top-50 non-adjacent
      // part pairs by neighborhood Jaccard — the "probably related"
      // candidate generator; hub centers excluded (bounded loss)
      pipeline.Graph.linkPrediction(coPurchaseWedges(s), "src", "dst",
        k = 50, maxDegree = 500)
    },
    "graph_pagerank" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // integer fixed-point PageRank over the bidirected customer↔supplier
      // trade graph (distinct order pairs; suppliers offset by 1e6 into
      // the shared node id space) — 5 iterations, bit-replayable
      pipeline.Graph.pageRank(tradeEdges(s), "src", "dst", iterations = 5)
        .orderBy("node")
    },
    "graph_pagerank_weighted" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // trade-volume-weighted PageRank: edge weight = distinct orders
      // linking the pair; contrib = rank·w DIV Σw, same fixed-point ppm
      pipeline.Graph.pageRank(tradeEdgesWeighted(s), "src", "dst",
          iterations = 5, weightCol = Some("w"))
        .orderBy("node")
    },
    "graph_triangles" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // per-part triangle counts in the co-purchase graph (parts sharing
      // an order) — degree-ordered wedge join, every triangle found once;
      // a quarter of the orders keeps the wedge volume bench-sized while
      // exercising every stage of the operator
      pipeline.Graph.triangleCounts(coPurchaseWedges(s), "src", "dst")
        .orderBy("node")
    },
    "graph_clustering" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // local clustering coefficient over the same co-purchase graph —
      // the normalized neighborhood-density signal raw triangle counts
      // can't give (a hub's thousand triangles ≠ a dense ring); integral
      // ppm division, degree<2 excluded, triangle-free degree≥2 → 0
      pipeline.Graph.clusteringCoefficient(coPurchaseWedges(s), "src", "dst")
        .orderBy("node")
    },
    "rel_hierarchy_rollup" -> { (s, dir) =>
      prep(s, dir, "part")
      // BOM-style subtree rollup over the decimal part tree (parent =
      // (id−1) DIV 10): the recursive-CTE class Spark lacks natively,
      // as frontier-chase rounds + one ancestor aggregate
      val parts = s.table("part")
      val edges = parts.where(col("p_partkey") >= 1)
        .select(col("p_partkey").as("child"),
          expr("(p_partkey - 1) DIV 10").as("parent"))
      pipeline.Graph.hierarchyRollup(parts, "p_partkey", "p_retailprice",
          edges, "child", "parent", maxDepth = 10)
        .orderBy("node")
    },
    "graph_modularity" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // modularity of the label-propagation communities — turns "we ran
      // community detection" into a measured claim (Q ≈ 0 on noise).
      // The co-purchase edge build feeds BOTH the LP rounds and the Q
      // computation, materialized once
      val e = coPurchaseWedges(s)
      val labels = pipeline.Graph.labelPropagation(e, "src", "dst", iterations = 4)
      pipeline.Graph.modularity(e, labels, "src", "dst", "node", "label")
        .orderBy("community")
    },
    "graph_ppr" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // personalized PageRank: restart mass pinned to a 1-in-97 customer
      // seed cohort — "suppliers relevant to THESE customers", the
      // random-walk-with-restart retrieval form of graph_pagerank
      val seeds = s.table("orders").select(col("o_custkey").as("node"))
        .where(col("node") % 97 === 0).distinct()
      pipeline.Graph.pageRank(tradeEdges(s), "src", "dst", iterations = 5,
          seeds = Some(seeds))
        .orderBy("node")
    },
    "graph_copurchase" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // the weighted co-purchase graph as a first-class projection:
      // parts sharing an order, weight = distinct shared orders
      coPurchaseProjection(s).orderBy("a", "b")
    },
    "graph_mst" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r13: Boruvka minimum spanning forest over the co-purchase
      // projection with cost = 1e6 DIV co-count — the taxonomy backbone
      // (strong ties cheap); unique forest via the (w, a, b) total key
      val proj = coPurchaseProjection(s)
        .select(col("a"), col("b"), expr("1000000 DIV weight").as("cost"))
      pipeline.Graph.minimumSpanningForest(proj, "a", "b", "cost",
          maxRounds = MstRoundBudget)
        .orderBy("a", "b")
    },
    "graph_kcore" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // 3-core of the co-purchase graph by synchronous peeling — the
      // dense-farm signal; 8 rounds cover this graph's peel depth
      pipeline.Graph.kCore(coPurchaseWedges(s), "src", "dst", k = 3, rounds = 8)
        .orderBy("node")
    },
    "graph_communities" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // label-propagation communities over the same co-purchase graph as
      // graph_triangles — 4 synchronous min-tie rounds, bit-replayable
      pipeline.Graph.labelPropagation(coPurchaseWedges(s), "src", "dst",
          iterations = 4)
        .orderBy("node")
    },
    "graph_louvain" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r13: Louvain-style modularity-gain moves over the same
      // co-purchase graph as graph_communities — degree-corrected
      // community detection next to LP's plurality vote; 3 synchronous
      // rounds, exact DECIMAL gain numerators so the labels hash-gate
      pipeline.Graph.louvainMoves(coPurchaseWedges(s), "src", "dst", rounds = 3)
        .orderBy("node")
    },
    "graph_louvain_full" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // r14: FULL multi-level Louvain on the graph_louvain graph — after
      // 3 move rounds the communities contract to super-nodes (intra
      // weight → self-loop, inter weight → weighted edge) and 3 weighted
      // move rounds run on the contracted graph; the unfolded assignment
      // hash-gates vs the per-level CTE replay
      pipeline.Graph.louvain(coPurchaseWedges(s), "src", "dst",
        roundsPerLevel = 3, levels = 2)
        .orderBy("node")
    },
    "graph_scc" -> { (s, dir) =>
      prep(s, dir, "lineitem", "orders")
      // r14: DIRECTED strongly connected components over the order/return
      // flow graph ([[orderFlowEdges]] — the reciprocity construction):
      // mutual order/return flows close cycles, and the SCC partition is
      // the canonical "who is in a trading loop with whom" readout.
      // Labels are canonical (min node id of the SCC), so a generic
      // DuckDB mutual-reachability closure gates the answer with no
      // round-structure replay.
      pipeline.Graph.stronglyConnectedComponents(orderFlowEdges(s), "src", "dst")
        .orderBy("node")
    },
    "graph_walks" -> { (s, dir) =>
      prep(s, dir, "lineitem", "orders")
      // r14: deterministic DeepWalk corpus over the order/return flow
      // graph — md5-derived uniform neighbor steps, 4 hops per start
      // node; the embedding-trainer input whose every row hash-gates
      pipeline.Graph.randomWalks(orderFlowEdges(s), "src", "dst", walkLen = 4)
        .orderBy("start", "step")
    },
    "graph_condensation" -> { (s, dir) =>
      prep(s, dir, "lineitem", "orders")
      // r14: the SCC quotient DAG with longest-path levels over the
      // graph_scc flow graph — how DEEP the order/return flow structure
      // runs and which components source/sink it
      pipeline.Graph.condensationLevels(orderFlowEdges(s), "src", "dst")
        .orderBy("scc")
    },
    "graph_components" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // EXACT connected components over a sparse co-purchase slice
      // (every-16th order keeps the graph from collapsing into one
      // giant component): hook+jump to the CHECKED fixpoint, component
      // = min reachable part id — the canonical reachability partition
      val li = s.table("lineitem").where(col("l_orderkey") % 16 === 0)
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .distinct()
      pipeline.Graph.connectedComponents(e, "src", "dst")
        .orderBy("node")
    },
    "graph_degree_dist" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // mega-hub pre-flight: log2-bucketed degree distribution of the
      // trade graph — the readout that decides which ops need skew
      // guards. degreeProfile canonicalizes to the distinct undirected
      // edge set internally (least/greatest + distinct), so the
      // bidirected [[tradeEdges]] gives the oracle's buckets
      pipeline.Graph.degreeProfile(tradeEdges(s), "src", "dst")
        .orderBy("bucket")
    },
    "graph_reciprocity" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // relationship symmetry over a genuinely DIRECTED trade graph:
      // cust→supp for kept line items, supp→cust for returns — the
      // two-way-relationship share
      val e = s.sql(s"""
        SELECT DISTINCT ${custIdBelowOffsetSql("o_custkey")} AS src,
               l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_returnflag <> 'R'
        UNION
        SELECT DISTINCT l_suppkey + 1000000 AS src,
               ${custIdBelowOffsetSql("o_custkey")} AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_returnflag = 'R'""")
      pipeline.Graph.reciprocity(e, "src", "dst")
    },
    "graph_temporal_reach" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // time-respecting earliest-arrival closure over the DATED trade
      // graph: influence may only flow along edges that fire AT OR AFTER
      // the source was reached — the contagion/provenance question a
      // static reachability pass gets wrong
      val e0 = s.table("orders")
        .join(s.table("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(custIdBelowOffset(col("o_custkey")).as("c"),
          (col("l_suppkey") + 1000000L).as("sp"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("t"))
        .distinct()
      val edges = e0.select(col("c").as("src"), col("sp").as("dst"), col("t"))
        .union(e0.select(col("sp").as("src"), col("c").as("dst"), col("t")))
      val seeds = e0.select(col("c").as("node"))
        .where(col("node") % 97 === 0).distinct()
        .withColumn("t0", lit(0L))
      pipeline.Graph.temporalReachability(edges, "src", "dst", "t", seeds,
          rounds = 3)
        .orderBy("node")
    },
    "graph_harmonic" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // r11: harmonic centrality from 8 md5 landmarks over the same
      // bidirected trade graph as graph_bfs — the distance-based
      // centrality the family lacked (PageRank measures flow; exact
      // closeness is all-pairs); exact integer Σ⌊1e6/d⌋ estimator
      pipeline.Graph.harmonicCentrality(tradeEdges(s), "src", "dst",
          nSeeds = 8, rounds = 4)
        .orderBy("node")
    },
    "graph_eccentricity" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // r15: per-landmark eccentricity + diameter lower bound over the
      // same bidirected trade graph — the BFS-budget pre-flight: a seed
      // whose eccentricity equals the horizon was CLIPPED (raise the
      // budget), strictly below genuinely ends there
      pipeline.Graph.landmarkEccentricity(tradeEdges(s), "src", "dst",
          nSeeds = 8, rounds = 4)
        .orderBy("seed")
    },
    "graph_closeness" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // r13: landmark closeness over the same bidirected trade graph —
      // the classic Bavelas reciprocal-mean-distance readout next to
      // harmonic's reciprocal-sum (different ranking when distance
      // spreads are wide); independent "cc:" landmark draw, exact
      // integer n·10⁶ DIV Σd so the estimate hash-gates
      pipeline.Graph.closenessCentrality(tradeEdges(s), "src", "dst",
          nSeeds = 8, rounds = 4)
        .orderBy("node")
    },
    "graph_betweenness" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // r13: Brandes-sampled betweenness from 8 md5 landmarks over the
      // bidirected trade graph — which nodes BROKER the flow; ppm
      // fixed-point dependency accumulation so the estimate hash-gates
      pipeline.Graph.betweennessCentrality(tradeEdges(s), "src", "dst",
          nSeeds = 8, rounds = 4)
        .orderBy("node")
    },
    "graph_bfs" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // hop distance from a trusted customer cohort over the bidirected
      // trade graph — the TrustRank-style link-distance quality prior;
      // unit weights = plain BFS (the w=1 case of shortestPaths)
      val seeds = s.table("orders").select(col("o_custkey").as("node"))
        .where(col("node") % 97 === 0).distinct()
      pipeline.Graph.shortestPaths(tradeEdges(s), "src", "dst", seeds,
          rounds = 4)
        .orderBy("node")
    },
    "graph_shortest_paths" -> { (s, dir) =>
      prep(s, dir, "orders", "lineitem")
      // weighted min-cost variant over the same graph: integer edge cost
      // derived from the endpoints (deterministic, oracle-replayable), so
      // a cheap 2-hop route can beat an expensive direct edge — the case
      // that distinguishes Bellman-Ford relaxation from plain BFS
      val edges = tradeEdges(s)
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7)
      val seeds = s.table("orders").select(col("o_custkey").as("node"))
        .where(col("node") % 97 === 0).distinct()
      pipeline.Graph.shortestPaths(edges, "src", "dst", seeds, rounds = 4,
          weightCol = Some("w"))
        .orderBy("node")
    },
    "events_scd2" -> { (s, dir) =>
      prep(s, dir, "events")
      // SCD2 validity intervals over the per-user event_type change log:
      // one row per run of identical values, valid_to = next run's start
      pipeline.TimeSeries.scd2(s.table("events"), "user_id", "ts",
          "event_id", Seq("event_type"))
        .orderBy("user_id", "valid_from", "event_id")
    },
    "events_scd2_lookup" -> { (s, dir) =>
      prep(s, dir, "events")
      // POINT-IN-TIME dimension lookup — the temporal-leakage guard:
      // training features must reflect the dimension state AS OF the
      // fact's timestamp, never the current state. Composes the gated
      // scd2 build with the gated as-of join (SCD2 intervals partition
      // time, so as-of BACKWARD on valid_from IS the interval lookup —
      // no BETWEEN join, one co-partitioned sort)
      val events = s.table("events")
      val dims = pipeline.TimeSeries.scd2(events, "user_id", "ts",
        "event_id", Seq("event_type"))
      val facts = events.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      pipeline.Relational.asofJoin(facts, dims, Seq("user_id"),
          "ts", "valid_from", "event_id", rightCols = Seq("event_type"))
        .select(col("event_id"), col("user_id"),
          col("event_type_asof").as("state_at_purchase"))
        .orderBy("event_id")
    },
    "events_cdc_latest" -> { (s, dir) =>
      prep(s, dir, "events")
      // the changelog compacted to its current snapshot — newest row per
      // user by (ts, event_id); a user whose NEWEST event is an 'error'
      // is treated as tombstoned and dropped
      pipeline.Maintenance.cdcLatest(s.table("events"), Seq("user_id"),
          "ts", "event_id",
          deleteFilter = Some(col("event_type") === "error"))
        .orderBy("user_id")
    },
    "pipeline_crawl_chain" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r15: the crawl-to-prose FIRST MILE end to end as one composed
      // pure-map chain — WARC member → response record → HTTP split →
      // status/content-type gate → markup strip → word-count gate +
      // langid. Plants: 404s (id%29==0) fall to the status gate,
      // application/pdf (id%29==3) to the content-type gate
      val blobs = sources.Warc.synthesizeWarcHttpPayloads(
        s.table("documents"), "doc_id", "text")
      val recs = sources.Warc.records(blobs, "payload")
        .where(col("warc_type") === "response")
        // the record-level Content-Type is the WARC envelope's; the
        // HTTP head inside the payload carries the one the gate reads
        .drop("content_type")
      val kept = sources.Warc.httpSplit(recs, "payload")
        .where(col("status") === 200 &&
          col("content_type").startsWith("text/html"))
      kept
        .select(col("doc_id"),
          pipeline.TextAnalysis.stripMarkup(col("body").cast("string"))
            .as("clean"))
        .select(col("doc_id"), col("clean"),
          size(pipeline.TextAnalysis.words(col("clean"))).cast("long")
            .as("n_words"),
          pipeline.TextAnalysis.langId(col("clean")).as("lang"))
        .where(col("n_words") >= 3)
        .orderBy("doc_id")
    },
    "pipeline_crawl_chain2" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the crawl first mile WITH the politeness gate — WARC
      // member → response record → robots.txt verdict on the record's
      // own target URI (RFC 9309 longest-match; ids starting '4' are
      // disallowed except the '44' prefix the Allow rule wins back) →
      // HTTP split → status/content-type gates → markup strip →
      // word-count gate + langid. Every step a pure map or broadcast
      // join — the container/politeness/protocol/content layers as ONE
      // shuffle-free chain
      val blobs = sources.Warc.synthesizeWarcHttpPayloads(
        s.table("documents"), "doc_id", "text")
      val recs = sources.Warc.records(blobs, "payload")
        .where(col("warc_type") === "response")
        .drop("content_type")
      val parts = pipeline.TextAnalysis.urlParts(recs, "target_uri")
      val robots = s.createDataFrame(Seq(
        ("example.com",
          "User-agent: *\nDisallow: /page/4\nAllow: /page/44\n")))
        .toDF("rdomain", "robots_txt")
      val gated = pipeline.Robots.gate(parts, "domain", "path",
          robots, "rdomain", "robots_txt", "graftbot")
        .where(col("allowed"))
      val kept = sources.Warc.httpSplit(
          gated.select("doc_id", "payload"), "payload")
        .where(col("status") === 200 &&
          col("content_type").startsWith("text/html"))
      kept
        .select(col("doc_id"),
          pipeline.TextAnalysis.stripMarkup(col("body").cast("string"))
            .as("clean"))
        .select(col("doc_id"), col("clean"),
          size(pipeline.TextAnalysis.words(col("clean"))).cast("long")
            .as("n_words"),
          pipeline.TextAnalysis.langId(col("clean")).as("lang"))
        .where(col("n_words") >= 3)
        .orderBy("doc_id")
    },
    "pipeline_sitemap_urls" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: sitemap.xml (sitemaps.org) — the frontier-side twin of
      // the robots gate: one row per COMPLETE <url>/<sitemap> element,
      // entity-decoded locs, exact-decimal priority in integer milli.
      // Plants: id%37==0 garbage (not a sitemap → no rows), id%37==5
      // torn inside the LAST url element (the complete id%3 survive),
      // id%37==11 a <sitemapindex> of two shards (kind='sitemap')
      val maps = pipeline.Sitemaps.synthesizeSitemaps(
        s.table("documents"), "doc_id")
      pipeline.Sitemaps.explode(maps, "sitemap_xml")
        .orderBy("doc_id", "loc")
    },
    "pipeline_sitemap_frontier" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the frontier BUILD composed — sitemap URLs (where the
      // site wants crawlers) gated by the robots verdict (where they
      // may go): explode → urlParts → broadcast RFC 9309 gate, zero
      // corpus shuffles; the same Disallow /page/4 + Allow /page/44
      // rule pair as chain v2, so longest-match precedence replays
      // across both query families
      val maps = pipeline.Sitemaps.synthesizeSitemaps(
        s.table("documents"), "doc_id")
      val urls = pipeline.Sitemaps.explode(maps, "sitemap_xml")
        .where(col("kind") === "url")
        .select("doc_id", "loc")
      val parts = pipeline.TextAnalysis.urlParts(urls, "loc")
      val robots = s.createDataFrame(Seq(
        ("example.com",
          "User-agent: *\nDisallow: /page/4\nAllow: /page/44\n")))
        .toDF("rdomain", "robots_txt")
      pipeline.Robots.gate(parts, "domain", "path",
          robots, "rdomain", "robots_txt", "graftbot")
        .select(col("doc_id"), col("loc"), col("allowed"))
        .orderBy("doc_id", "loc")
    },
    "pipeline_feed_items" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: RSS 2.0 / Atom feeds — the third per-domain discovery
      // artifact (robots, sitemap, feed): how an incremental crawl
      // finds NEW content without re-walking the site. Gates the two
      // real-world quirks: CDATA titles and entity-escaped titles must
      // CONVERGE to the same string, and Atom's href-attribute links
      // read alongside RSS's element-text links. Plants: id%37==0
      // garbage (no rows), id%37==5 torn last item (complete survive)
      val feeds = pipeline.Feeds.synthesizeFeeds(
        s.table("documents"), "doc_id")
      pipeline.Feeds.explode(feeds, "feed_xml")
        .orderBy("doc_id", "guid")
    },
    "pipeline_fetch_schedule" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the crawl-control capstone — the three per-domain control
      // surfaces composed into the artifact a fetcher actually
      // executes: sitemap URLs (the site's frontier seed, with its
      // priorities) → robots ALLOW gate → Crawl-delay pacing: per
      // domain, allowed URLs rank by (priority desc, loc) and fetch at
      // (rank-1)·delay offsets (1 s politeness default when the delay
      // is absent/unparsable). Window partitions per DOMAIN — bounded
      // by the 50k sitemap cap, never a corpus-wide sort
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.graftshim.{GraftShim => E}
      val maps = pipeline.Sitemaps.synthesizeSitemaps(
        s.table("documents"), "doc_id")
      val urls = pipeline.Sitemaps.explode(maps, "sitemap_xml")
        .where(col("kind") === "url")
        .select("doc_id", "loc", "priority_milli")
      val parts = pipeline.TextAnalysis.urlParts(urls, "loc")
      val robotsRules = s.createDataFrame(Seq(
        ("example.com",
          "User-agent: *\nDisallow: /page/4\nAllow: /page/44\n")))
        .toDF("rdomain", "robots_txt")
      val gated = pipeline.Robots.gate(parts, "domain", "path",
          robotsRules, "rdomain", "robots_txt", "graftbot")
        .where(col("allowed"))
        .select("doc_id", "loc", "priority_milli")
      val delays = pipeline.RobotsFixtures.synthesizeRobotsBodies(
          s.table("documents"), "doc_id")
        .withColumn("__d", E.column(pipeline.RobotsDirectives(
          E.expression(col("robots_txt")), "graftbot")))
        .select(col("doc_id"),
          coalesce(col("__d.crawl_delay_ms"), lit(1000)).as("delay_ms"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("priority_milli").desc, col("loc"))
      gated.join(delays, "doc_id")
        .withColumn("fetch_offset_ms",
          (row_number().over(w) - 1).cast("long") * col("delay_ms"))
        .select("doc_id", "loc", "priority_milli", "fetch_offset_ms")
        .orderBy("doc_id", "fetch_offset_ms", "loc")
    },
    "pipeline_http_charset" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the HTML5 charset precedence ladder a crawl text pass
      // actually runs — header charset= param → BOM → <meta charset>
      // → the windows-1252 legacy default — incl. the ALIAS RULE:
      // an iso-8859-1 label decodes as cp1252 (browsers never decode
      // true Latin-1; € œ – live in 0x80–0x9F), or route 2's € would
      // read as a control char. Routes by id%6; id%37==0 garbage
      val blobs = sources.Warc.synthesizeWarcHttpCharsetPayloads(
        s.table("documents"), "doc_id")
      sources.Warc.httpText(
          sources.Warc.records(blobs, "payload")
            .where(col("warc_type") === "response")
            .drop("content_type"), "payload")
        .select(col("doc_id"), col("charset"), col("charset_source"),
          col("text"))
        .orderBy("doc_id")
    },
    "pipeline_robots_directives" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the SCHEDULING half of robots.txt — Crawl-delay (exact
      // decimal seconds → integer ms, same group selection as the
      // allow/disallow gate) + the group-independent Sitemap:
      // discovery lines that SEED the sitemap frontier. Plants:
      // id%37==0 junk text (null delay, no sitemaps), id%37==5
      // unparsable delay values (null, never a guessed pace)
      import org.apache.spark.sql.graftshim.{GraftShim => E}
      val bodies = pipeline.RobotsFixtures.synthesizeRobotsBodies(
        s.table("documents"), "doc_id")
      bodies.withColumn("__d", E.column(pipeline.RobotsDirectives(
          E.expression(col("robots_txt")), "graftbot")))
        .select(col("doc_id"),
          col("__d.crawl_delay_ms").as("crawl_delay_ms"),
          array_join(col("__d.sitemaps"), ",").as("sitemaps_csv"))
        .orderBy("doc_id")
    },
    "pipeline_http_decode" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: HTTP WIRE DECODING — what a RAW capture needs before any
      // text pass (Common Crawl pre-strips these; proxy/pcap-derived
      // archives do not): Transfer-Encoding chunked dechunked
      // complete-chunks-only, then Content-Encoding gzip inflated
      // fully-or-null (its CRC is the gate), protocol order. Routes by
      // id%4: plain / chunked(100-char chunks) / gzip / gzip-then-
      // chunked-in-4. Plants: id%37==0 garbage (no record), id%37==5 on
      // chunked routes the last chunk arrives half (complete chunks
      // keep, truncated loud), id%37==11 on gzip routes one flipped
      // byte (body null, never corrupt text)
      val blobs = sources.Warc.synthesizeWarcHttpEncodedPayloads(
        s.table("documents"), "doc_id", "text")
      val recs = sources.Warc.records(blobs, "payload")
        .where(col("warc_type") === "response")
        .drop("content_type")
      sources.Warc.httpBody(recs, "payload")
        .select(col("doc_id"), col("status"), col("was_chunked"),
          col("was_gzip"), col("n_chunks"), col("truncated"),
          col("body").cast("string").as("body_text"))
        .orderBy("doc_id")
    },
    "pipeline_crawl_chain_pdf" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: chain v3 — the pdf branch EXTRACTED instead of dropped.
      // WARC member → response record → HTTP split → status gate →
      // content-type ROUTER: text/html strips markup, application/pdf
      // runs the real PDF text extractor (FlateDecode inflate + text
      // operators); junk pdf bytes (id%29==7) read null and fall out,
      // 404s (id%29==0) fall to the status gate. Both branches merge
      // into one prose frame — every step a codegen'd pure map, zero
      // corpus shuffles
      val blobs = sources.Warc.synthesizeWarcHttpPdfPayloads(
        s.table("documents"), "doc_id", "text")
      val split = sources.Warc.httpSplit(
          sources.Warc.records(blobs, "payload")
            .where(col("warc_type") === "response")
            .drop("content_type"), "payload")
        .where(col("status") === 200)
      val html = split.where(col("content_type").startsWith("text/html"))
        .select(col("doc_id"), lit("html").as("route"),
          pipeline.TextAnalysis.stripMarkup(col("body").cast("string"))
            .as("clean"))
      val pdf = split.where(col("content_type") === "application/pdf")
        .select(col("doc_id"), lit("pdf").as("route"),
          sources.Pdf.textColumn(col("body")).as("clean"))
      html.unionByName(pdf)
        .where(col("clean").isNotNull)
        .select(col("doc_id"), col("route"), col("clean"),
          size(pipeline.TextAnalysis.words(col("clean"))).cast("long")
            .as("n_words"),
          pipeline.TextAnalysis.langId(col("clean")).as("lang"))
        .where(col("n_words") >= 3)
        .orderBy("doc_id")
    },
    "src_warc_records" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r15: WARC (ISO 28500) crawl-archive records — the Common Crawl
      // container, parsed by a pure byte-walk expression exploded per
      // COMPLETE record (torn members keep the records that fully
      // landed: the id%37==5 plant tears the member's tail, so even ids
      // lose their only record while odd ids keep the intact response
      // and lose only the torn metadata twin)
      val blobs = sources.Warc.synthesizeWarcPayloads(
        s.table("documents"), "doc_id", "text")
      sources.Warc.records(blobs, "payload")
        .select(col("doc_id"), col("warc_type"), col("target_uri"),
          col("content_type"), col("content_length"),
          col("payload").cast("string").as("payload_text"))
        .orderBy("doc_id", "warc_type")
    },
    "src_warc_scan" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the per-record inflate cap's LOUD accounting — warc_scan
      // counts complete records AND declared-oversize skips per blob
      // (cap 512 here so the fixture's longest texts actually trip it;
      // the default 128 MB cap is the production bomb guard). Same walk
      // as src_warc_records, so torn/garbage plants read identically:
      // id%37==0 garbage → all zero, torn evens lose their one record
      // UNCOUNTED (nothing declared complete), torn odds keep/drop the
      // response and never see the torn metadata twin
      val blobs = sources.Warc.synthesizeWarcPayloads(
        s.table("documents"), "doc_id", "text")
      sources.Warc.scanStats(blobs, "payload", maxRecordBytes = 512L)
        .orderBy("doc_id")
    },
    "text_blocklist_hits" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: Aho-Corasick multi-pattern screen — N blocklist terms
      // compiled into ONE goto/fail automaton, the corpus scanned ONCE
      // (vs one LIKE-scan per term); n counts every start position
      // incl. overlaps and nested patterns (tab/table/able all fire on
      // 'table'), replayed exactly by the oracle's position scan
      import org.apache.spark.sql.graftshim.{GraftShim => E}
      val pats = Seq("a", "able", "fast", "scan scan", "st", "tab",
        "table", "value")
      s.table("documents").select(col("doc_id"),
          explode(E.column(functions.MultiMatch(
            E.expression(col("text")), pats))).as("__h"))
        .select(col("doc_id"), col("__h.pattern"), col("__h.n"))
        .orderBy("doc_id", "pattern")
    },
    "src_tar_roundtrip" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: ustar walk — 512-byte headers with the checksum
      // self-check, octal sizes, block-padded content, two-zero-block
      // end marker; odd ids ship `.tar.gz` (streamed gunzip). Plants:
      // id%37==0 garbage (checksum fails — no entries), id%37==5 torn
      // 100 bytes into the SECOND header (doc survives, meta gone)
      val blobs = sources.Tar.synthesizeTarPayloads(
        s.table("documents"), "doc_id", "text")
      sources.Tar.read(blobs, "payload")
        .select(col("doc_id"), col("name"), col("size"),
          col("content").cast("string").as("content_text"))
        .orderBy("doc_id", "name")
    },
    "src_zip_roundtrip" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: ZIP archive source — EOCD scan + central-directory walk
      // (header-only) then VERIFIED extraction: STORED slices on even
      // ids, raw-DEFLATE inflation (a REAL decode through the JDK
      // Inflater) on odd, both length- and CRC32-gated against the
      // directory's declaration. Plants: id%37==0 md5 garbage (no
      // EOCD), id%37==5 torn tail (the EOCD lives at the END — a torn
      // download correctly reads as index lost, zero rows)
      val blobs = sources.Zip.synthesizeZipPayloads(
        s.table("documents"), "doc_id", "text")
      sources.Zip.read(blobs, "payload")
        .select(col("doc_id"), col("name"), col("method"),
          col("uncompressed_size"),
          col("content").cast("string").as("content_text"))
        .orderBy("doc_id", "name")
    },
    "multimodal_pdf_info" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: the PDF document-information dictionary — the metadata
      // walk completing the per-format family (EXIF/ID3/vorbis/PNG
      // text): trailer /Info ref (last trailer wins) → Title/Author/
      // Producer/CreationDate, UTF-16BE-with-BOM strings decoded (odd
      // ids — how real producers write non-Latin titles). Plants:
      // id%37==0 garbage (no row), id%37==5 torn — the info object is
      // written LAST like real writers do, so a torn download loses
      // metadata first; id%37==17 encrypted (info strings are
      // encrypted in a real encrypted PDF: withheld, never ciphertext)
      val blobs = sources.Pdf.synthesizePdfInfoPayloads(
        s.table("documents"), "doc_id", "text")
      sources.Pdf.read(blobs, "payload")
        .select(col("doc_id"), col("n_pages"), col("encrypted"),
          col("title"), col("author"), col("producer"), col("created"))
        .orderBy("doc_id")
    },
    "src_pdf_objstm" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: OBJECT-STREAM PDFs (ISO 32000 §7.5.7) — the modern-writer
      // layout where the catalog, page tree, and every page DICT
      // travel inside ONE FlateDecode /ObjStm container: a direct-scan
      // reader sees zero pages on exactly the documents PDF 1.5+
      // producers emit. The expansion lifts embedded dicts into the
      // object table (direct objects win collisions). Plants: id%37==0
      // garbage (no row), id%37==5 torn inside the ObjStm — the whole
      // page tree travels in that stream, so the torn doc reads zero
      // pages (the modern failure shape, structural row kept)
      val blobs = sources.Pdf.synthesizePdfObjStmPayloads(
        s.table("documents"), "doc_id", "text")
      sources.Pdf.read(blobs, "payload")
        .select(col("doc_id"), col("n_objects"), col("n_pages"),
          col("n_streams"), col("text"))
        .orderBy("doc_id")
    },
    "src_pdf_text" -> { (s, dir) =>
      prep(s, dir, "documents")
      // r16: PDF text-extraction source — the tolerant object scan +
      // FlateDecode (REAL zlib inflate on odd ids, plain streams on
      // even) + the BT/ET text-operator interpreter, 12 lines/page so
      // longer docs exercise the multi-page Kids walk. Plants: id%37==0
      // md5 garbage (no %PDF header → no row), id%37==5 TORN 10 bytes
      // into the FIRST content stream (catalog + page 1's dict are
      // complete → structural row, null text), id%37==17 ENCRYPTED
      // (object graph legible, text withheld — never ciphertext)
      val blobs = sources.Pdf.synthesizePdfPayloads(
        s.table("documents"), "doc_id", "text")
      sources.Pdf.read(blobs, "payload")
        .select(col("doc_id"), col("n_objects"), col("n_pages"),
          col("n_streams"), col("encrypted"), col("text"))
        .orderBy("doc_id")
    },
    "src_csv_roundtrip" -> { (s, dir) =>
      prep(s, dir, "documents")
      // CSV parity incl. the quoting dimension: lang values wrapped in
      // crafted comma/quote text exercise the RFC escaping both parsers
      // must agree on
      val out = "/tmp/graft_csv_gate"
      val df = s.table("documents").select(col("doc_id"),
        concat(lit("x,\""), col("lang"), lit("\"y")).as("tricky"),
        col("n_chars"))
      sources.Csv.write(df, out, 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, tricky STRING, n_chars BIGINT")
      sources.Csv.read(s, out, schema)
        .where(col("_corrupt").isNull)
        .groupBy("tricky")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("tricky")
    },
    "src_jsonl_roundtrip" -> { (s, dir) =>
      prep(s, dir, "documents")
      // file-level JSONL ingest parity: documents → gzip JSONL part
      // files → read back under an explicit schema → per-lang rollup;
      // DuckDB reads the SAME files, so writer, reader, and both
      // parsers must agree byte-for-byte
      val out = "/tmp/graft_jsonl_gate"
      sources.Jsonl.write(
        s.table("documents").select("doc_id", "lang", "n_chars"), out, 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, lang STRING, n_chars BIGINT")
      sources.Jsonl.read(s, out, schema)
        .where(col("_corrupt").isNull)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")
    },
    "text_vocab_growth" -> { (s, dir) =>
      prep(s, dir, "documents")
      // Heaps'-law saturation: per id-ordered tenth of the corpus, how
      // many tokens appear for the first time + the cumulative vocab —
      // "is more data still buying new language?"
      pipeline.TextAnalysis.vocabGrowth(s.table("documents"), "doc_id",
          "text", nBuckets = 10)
        .orderBy("bucket")
    },
    "pipeline_expectations" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // data-contract gate over a deliberately corrupted view (negated
      // quantities every 97th order, NULLed discounts every 101st) —
      // one aggregate pass, NULL predicate = violation
      val li = s.table("lineitem").select(
        when(col("l_orderkey") % 97 === 0, -col("l_quantity"))
          .otherwise(col("l_quantity")).as("qty"),
        col("l_extendedprice").as("price"),
        when(col("l_orderkey") % 101 === 0, lit(null).cast("double"))
          .otherwise(col("l_discount")).as("disc"),
        col("l_returnflag").as("flag"))
      pipeline.Maintenance.expectations(li, Seq(
          "qty_in_range" -> (col("qty") >= 1 && col("qty") <= 50),
          "price_positive" -> (col("price") > 0),
          "discount_known" -> (col("disc") >= 0 && col("disc") <= 0.1),
          "flag_known" -> col("flag").isin("A", "N", "R")))
        .orderBy("rule")
    },
    "pipeline_unique_audit" -> { (s, dir) =>
      prep(s, dir, "orders")
      // duplicate-key audit: how many order rows share a customer (the
      // row count a key-dedup pass would touch, not just distinct keys)
      pipeline.Maintenance.expectUnique(s.table("orders"), Seq("o_custkey"))
    },
    "rel_asof_nearest" -> { (s, dir) =>
      prep(s, dir, "events")
      // nearest-in-time match, either direction, within 2 hours — the
      // third merge_asof direction; exact-gap ties go backward
      val events = s.table("events")
      pipeline.Relational.asofJoin(
          events.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          events.where(col("event_type") === "view"),
          Seq("user_id"), "ts", "ts", "event_id",
          rightCols = Seq("event_id"), direction = "nearest",
          tolerance = Some(expr("INTERVAL 2 HOURS")))
        .select(col("event_id"), col("user_id"), col("event_id_asof"))
        .orderBy("event_id")
    },
    "rel_asof_tolerance" -> { (s, dir) =>
      prep(s, dir, "events")
      // freshness-bounded as-of: each purchase matched to the user's
      // latest view ONLY if within 30 minutes — staler context is no
      // context (the pandas merge_asof tolerance semantics)
      val events = s.table("events")
      pipeline.Relational.asofJoin(
          events.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          events.where(col("event_type") === "view"),
          Seq("user_id"), "ts", "ts", "event_id",
          rightCols = Seq("event_id"),
          tolerance = Some(expr("INTERVAL 30 MINUTES")))
        .select(col("event_id"), col("user_id"), col("event_id_asof"))
        .orderBy("event_id")
    },
    "rel_skyline" -> { (s, dir) =>
      prep(s, dir, "orders")
      // Pareto front over (order value, recency): no single ORDER BY
      // expresses "both big AND recent" — two-pass skyline, the global
      // window only ever sees the distinct-x frame
      val o = s.table("orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"),
        datediff(to_date(col("o_orderdate")),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("day_num"))
      pipeline.Relational.skylineMax(o, "price_cents", "day_num")
        .orderBy("o_orderkey")
    },
    "events_ab_test" -> { (s, dir) =>
      prep(s, dir, "events")
      // integer-exact two-proportion z-test: per-user conversion (any
      // purchase), variants by user parity, cross-multiplied verdict —
      // no float/sqrt before the boolean
      pipeline.Relational.abTest(
        s.table("events").select(col("user_id"),
          (col("user_id") % 2).as("variant"),
          (col("event_type") === "purchase").as("converted")),
        "user_id", "variant", "converted")
    },
    "search_rbo" -> { (s, dir) =>
      prep(s, dir, "orders", "customer")
      // rank-biased overlap between "top orders by spend" and "by
      // recency" per market segment — exact integer RBO at p=1/2, d=10
      val byPrice = s.sql("""
        SELECT c_mktsegment, o_orderkey AS doc_id,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders JOIN customer ON o_custkey = c_custkey""")
      val byDate = s.sql("""
        SELECT c_mktsegment, o_orderkey AS doc_id,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_orderdate DESC, o_orderkey) AS rank
        FROM orders JOIN customer ON o_custkey = c_custkey""")
      pipeline.Search.rboPrefix(byPrice, byDate, "c_mktsegment", d = 10)
        .orderBy("c_mktsegment")
    },
    "emb_triplets" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // metric-learning triplet export: nearest same-label positive +
      // hardest different-label negative per anchor, exact cosine
      pipeline.Similarity.tripletMining(s.table("embeddings"), "vec_id",
          "embedding", "label")
        .orderBy("anchor_id")
    },
    "emb_drift" -> { (s, dir) =>
      prep(s, dir, "embeddings")
      // snapshot-drift monitor: even vs odd vec_ids as the two corpus
      // versions; fixed sign-bucket partition (no trained centroids — the
      // monitor itself can't drift), integer floor-div centroids, L1 gap
      val emb = s.table("embeddings")
      pipeline.Similarity.centroidDrift(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding", signDims = 3)
        .orderBy("bucket")
    },
    "rel_zorder_key" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // the Morton z-value itself, oracle-gated: 8-bit buckets of
      // (partkey, suppkey) bit-interleaved — the write-path layout key
      // behind Layout.zorderWrite, here verified bit-for-bit against a
      // DuckDB shift/mask replay (bucket floats evaluated at identical
      // cast points, the rel_correlation rule)
      val li = s.table("lineitem")
      val st = li.agg(
        min("l_partkey").cast("double"), max("l_partkey").cast("double"),
        min("l_suppkey").cast("double"), max("l_suppkey").cast("double")).head
      val z = pipeline.Layout.zValue(Seq(
        (col("l_partkey"), st.getDouble(0), st.getDouble(1)),
        (col("l_suppkey"), st.getDouble(2), st.getDouble(3))), bits = 8)
      li.select(col("l_orderkey"), col("l_linenumber"), z.as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    "pipeline_l_diversity" -> { (s, dir) =>
      prep(s, dir, "events")
      // homogeneity-attack audit: cohorts (user bucket, day) where the
      // sensitive attribute (event_type) shows fewer than 3 distinct
      // values — k-anonymous size alone doesn't stop disclosure
      val ev = s.table("events")
        .select((col("user_id") % 25).as("user_bucket"),
          to_date(col("ts")).as("day"), col("event_type"))
      pipeline.Maintenance.lDiversityViolations(ev,
          Seq("user_bucket", "day"), "event_type", l = 3L)
        .orderBy("user_bucket", "day")
    },
    "pipeline_t_closeness" -> { (s, dir) =>
      prep(s, dir, "events")
      // distribution-skew audit (the third rung after k-anon/l-div):
      // user buckets whose spend-bucket distribution sits > 8000 ppm of
      // ordered-EMD from the table-wide one — a cohort can be large and
      // diverse yet still leak "this cohort skews high-spend"
      val ev = s.table("events")
        .select((col("user_id") % 25).as("user_bucket"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT) DIV 2000").as("spend_bucket"))
      pipeline.Maintenance.tClosenessViolations(ev,
          Seq("user_bucket"), "spend_bucket", tPpm = 8000L)
        .orderBy("user_bucket")
    },
    "pipeline_k_anonymity" -> { (s, dir) =>
      prep(s, dir, "events")
      // release-audit: (user bucket, event_type, day) combinations shared
      // by fewer than 5 events are the re-identification risk set
      val ev = s.table("events")
        .select((col("user_id") % 25).as("user_bucket"), col("event_type"),
          to_date(col("ts")).as("day"))
      pipeline.Maintenance.kAnonymityViolations(ev,
          Seq("user_bucket", "event_type", "day"), k = 5L)
        .orderBy("user_bucket", "event_type", "day")
    },
    "pipeline_e2e_curation" -> { (s, dir) =>
      prep(s, dir, "documents")
      // the full curation chain in ONE composed plan — Unicode-normalize,
      // exact-dedup keep-first, language-stratified downsample, token
      // stats — every stage integer/hash-exact, so the END-TO-END output
      // hash-gates against a single DuckDB CTE chain
      val docs = s.table("documents")
      val norm = docs.withColumn("text",
        pipeline.TextAnalysis.normalizeUnicode(col("text"), "NFC"))
      val dd = pipeline.Dedup.exact(norm, "doc_id", "text")
        .where(!col("is_duplicate"))
      val sampled = pipeline.TextAnalysis.stratifiedSample(dd, "doc_id", "lang",
        Map("en" -> 0.75, "de" -> 0.5), defaultFraction = 0.25)
      pipeline.TextAnalysis.tokenCounts(sampled, "text")
        .select(col("doc_id"), col("lang"), col("n_ws_tokens"))
        .orderBy("doc_id")
    },
    "pipeline_quality_classifier" -> { (s, dir) =>
      prep(s, dir, "documents")
      // FineWeb-style trainable filter: hashed BoW + hard-sigmoid linear
      // model trained on even ids, pure-map scoring of the held-out half.
      // Label = the long-document quality rule (n_chars >= 300): the one
      // signal this synthetic corpus genuinely carries in its text (langs
      // share the full vocabulary, so is-English is unlearnable noise —
      // measured 0.56 vs 0.97 held-out for the length rule). HASH-GATED
      // as of r11: training is integer fixed-point (md5-h60 features,
      // DECIMAL gradient folds, BigInt truncating updates with 1/e decay
      // + intercept scaling), so the 6 epochs unroll into the DuckDB
      // oracle like the pageRank rounds.
      val docs = s.table("documents")
      val model = pipeline.Classifier.train(
        docs.where(col("doc_id") % 2 === 0)
          .withColumn("label", (col("n_chars") >= 300).cast("double")),
        "text", "label", numFeatures = 1 << 14)
      pipeline.Classifier.score(model, docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    "pipeline_snapshot_diff" -> { (s, dir) =>
      prep(s, dir, "documents")
      // corpus version diff: v2 drops doc_id%7==0, rewrites text for
      // doc_id%5==0, and appends re-keyed copies of doc_id%11==0 —
      // the diff must report exactly those as removed/changed/added
      val v1 = s.table("documents")
      val v2 = v1.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(v1.where(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      pipeline.Maintenance.snapshotDiff(v1, v2, "doc_id", "text")
        .orderBy("doc_id")
    },
    "search_hybrid" -> { (s, dir) =>
      prep(s, dir, "documents")
      // phrase-boosted BM25: bag-of-words score + 64e6 ppm per exact
      // "batch scan" adjacency (64x the old bonus — the idf64 grade is
      // 64x the bit grade, keeping the boost's relative weight) — both
      // components integer, composed score hash-gated end-to-end
      pipeline.Search.bm25PhraseBoostTopK(s.table("documents"), "doc_id", "text",
        Seq("batch", "scan"), k = 15)
    },
    "search_rrf" -> { (s, dir) =>
      prep(s, dir, "documents")
      // reciprocal-rank fusion: BM25 relevance list × a document-length
      // prior list — incomparable raw scores, fused on RANKS alone with
      // integer 1e6 DIV (60 + rank) contributions
      val docs = s.table("documents")
      val bm = pipeline.Search.bm25TopK(docs, "doc_id", "text",
        Seq("dup", "spark", "join"), 100)
      val lenPrior = pipeline.Search.rankByScore(
        docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", 100)
      pipeline.Search.rrfFuse(Seq(bm, lenPrior), k = 10)
    },
    "search_ndcg" -> { (s, dir) =>
      prep(s, dir, "documents")
      // ranking-quality eval of OUR BM25: three single-term runs (top-20)
      // judged against graded truth rel = min(tf, 3) — nDCG@10 / MRR /
      // AP@10, integer-exact on the lg64 discount, so the eval metrics
      // themselves hash-gate. BM25's length normalization vs raw-tf truth
      // keeps the scores meaningfully below a perfect 1e6
      val docs = s.table("documents")
      val terms = Seq("dup", "spark", "join")
      // r10 self-review: batch the three runs through ONE corpus pass
      // (bm25TopKBatch) instead of three bm25TopK scans — identical
      // arithmetic, per-term df is query-independent
      val run = pipeline.Search.bm25TopKBatch(docs, "doc_id", "text",
        terms.map(t => t -> Seq(t)), 20)
      val truth = docs
        .select(col("doc_id"),
          explode(pipeline.TextAnalysis.words(col("text"))).as("query"))
        .where(col("query").isin(terms: _*))
        .groupBy("query", "doc_id")
        .agg(least(count(lit(1)), lit(3L)).as("rel"))
      pipeline.Search.rankingEval(run, truth, "query", "doc_id", "rank",
          "rel", k = 10)
        .orderBy("query")
    },
    "search_snippets" -> { (s, dir) =>
      prep(s, dir, "documents")
      // search-result previews: ±3 tokens around the first hit of either
      // query term — a pure map, docs without a match absent
      pipeline.Search.snippets(s.table("documents"), "doc_id", "text",
          Seq("dup", "window"), window = 3)
        .orderBy("doc_id")
    },
    "rel_cube" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // full CUBE over (returnflag, linestatus): all four grouping sets in
      // one pass — same partial-agg shape as ROLLUP, subtotal NULLs
      // coalesced so engine null-ordering can't affect the sort
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY rflag, lstatus""")
    },
    "rel_histogram" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // equi-width price histogram: integer bin edges (ceil-width over the
      // observed [min,max] cents), algebraic min/max boundary pass — the
      // cheap-at-100TB histogram, unlike the holistic percentile family
      pipeline.Relational.histogram(s.table("lineitem"), "l_extendedprice",
          nBins = 16)
        .orderBy("bin")
    },
    "rel_mode" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // busiest ship month per return flag — deterministic per-group mode
      // (max count, ties to the smallest value), two partial-aggregated
      // groupBys, no window, no per-group value list
      val li = s.table("lineitem")
        .select(col("l_returnflag"), month(col("l_shipdate")).as("ship_month"))
      pipeline.Relational.modeBy(li, Seq("l_returnflag"), "ship_month")
        .orderBy("l_returnflag")
    },
    "rel_mad" -> { (s, dir) =>
      prep(s, dir, "lineitem")
      // robust spread: exact median absolute deviation of quantity per
      // return flag (R-7 interpolation both engines), quantized for hashing
      pipeline.Relational.mad(s.table("lineitem"), Seq("l_returnflag"),
          "l_quantity")
        .select(col("l_returnflag"),
          floor(col("med") * 100 + 0.5).cast("long").as("med_c"),
          floor(col("mad") * 100 + 0.5).cast("long").as("mad_c"))
        .orderBy("l_returnflag")
    },
    "sessionize_events" -> { (s, dir) =>
      prep(s, dir, "events")
      // batch twin of streaming.EventStreams.sessionize (30-minute gap)
      streaming.EventStreams.sessionizeBatch(s.table("events"), gapMinutes = 30)
        .select("user_id", "session_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_id")
    },
    "events_session_stats" -> { (s, dir) =>
      prep(s, dir, "events")
      // the engagement rollup over sessionized events: bounce rate,
      // mean depth/duration, plus exact p50/p90 duration via the
      // percentile pass — the product-analytics daily readout
      val sess = streaming.EventStreams.sessionizeBatch(
          s.table("events"), gapMinutes = 30)
        .select(col("n_events"),
          (unix_timestamp(col("session_end")) -
            unix_timestamp(col("session_start"))).as("dur_s"))
      sess.agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("n_events")).as("n_events_total"),
        sum(col("dur_s")).as("dur_s_total"),
        expr("CAST(floor(percentile(dur_s, 0.5) * 100 + 0.5) AS BIGINT)")
          .as("p50_dur_cs"),
        expr("CAST(floor(percentile(dur_s, 0.9) * 100 + 0.5) AS BIGINT)")
          .as("p90_dur_cs"))
        .select(col("n_sessions"), col("n_bounces"),
          expr("CAST((n_bounces * 1000000) DIV n_sessions AS BIGINT)")
            .as("bounce_ppm"),
          expr("n_events_total DIV n_sessions").as("mean_depth"),
          expr("dur_s_total DIV n_sessions").as("mean_dur_s"),
          col("p50_dur_cs"), col("p90_dur_cs"))
    },
    "stream_window_agg" -> { (s, dir) =>
      prep(s, dir, "events")
      // batch-equivalent of the streaming tumbling-window aggregation
      // (graft.streaming uses the same grouping over readStream)
      s.sql("""
        SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        ORDER BY h, event_type""")
    })

  /** DuckDB replay of [[pipeline.Graph.pageRank]] with the iterations
    * UNROLLED as chained CTEs (standard SQL forbids aggregation inside a
    * recursive term, and unrolling keeps every engine on the plain-join
    * path). Must mirror the Spark edge build in `graph_pagerank` exactly:
    * bidirected customer↔supplier edges, suppliers offset by 1e6. */
  /** DuckDB replay of [[pipeline.Graph.hits]], rounds unrolled: each
    * half-round is raw sums + a sum-normalization scalar, all HUGEINT
    * floor arithmetic — Graph.scala hits (decimal DIV ≡ `//` on
    * non-negative HUGEINT). */
  private def hitsOracleSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""ar$i AS (SELECT e.dst AS node, sum(h.h) AS r
         |  FROM e0 e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
         |sa$i AS (SELECT sum(r) AS t FROM ar$i),
         |a$i AS (SELECT n.node,
         |  (coalesce(ar.r, CAST(0 AS HUGEINT)) * nn.n * 1000000) // sa.t AS a
         |  FROM nodes n LEFT JOIN ar$i ar ON ar.node = n.node
         |  CROSS JOIN sa$i sa CROSS JOIN nn),
         |hr$i AS (SELECT e.src AS node, sum(a.a) AS r
         |  FROM e0 e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |sh$i AS (SELECT sum(r) AS t FROM hr$i),
         |h$i AS (SELECT n.node,
         |  (coalesce(hr.r, CAST(0 AS HUGEINT)) * nn.n * 1000000) // sh.t AS h
         |  FROM nodes n LEFT JOIN hr$i hr ON hr.node = n.node
         |  CROSS JOIN sh$i sh CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
       |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM nodes),
       |h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS h FROM nodes),
       |$rounds
       |SELECT h.node, CAST(h.h AS BIGINT) AS hub_ppm, CAST(a.a AS BIGINT) AS auth_ppm
       |FROM h$iterations h JOIN a$iterations a ON a.node = h.node
       |ORDER BY h.node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.kTruss]], peel rounds unrolled as
    * MATERIALIZED CTEs. Triangles enumerate as the canonical x<y<z
    * three-edge join — the same triangle SET the operator's
    * degree-ordered orientation finds, each exactly once. Unrolled past
    * the measured fixpoint: peeling only removes, so extra rounds are
    * no-ops on both sides. */
  private def kTrussOracleSql(k: Int, rounds: Int): String = {
    val minSup = k - 2
    val rs = (1 to rounds).map { i =>
      s"""tr$i AS MATERIALIZED (
         |  SELECT xy.a AS x, xy.b AS y, yz.b AS z
         |  FROM e${i - 1} xy JOIN e${i - 1} yz ON xy.b = yz.a
         |       JOIN e${i - 1} xz ON xz.a = xy.a AND xz.b = yz.b),
         |sup$i AS MATERIALIZED (
         |  SELECT a, b, count(*) AS s FROM (
         |    SELECT x AS a, y AS b FROM tr$i
         |    UNION ALL SELECT x, z FROM tr$i
         |    UNION ALL SELECT y, z FROM tr$i) GROUP BY a, b),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e JOIN sup$i s
         |    ON s.a = e.a AND s.b = e.b AND s.s >= $minSup)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |      FROM li x JOIN li y
       |        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |$rs,
       |fin AS MATERIALIZED (SELECT a, b FROM e$rounds),
       |ftr AS MATERIALIZED (SELECT xy.a AS x, xy.b AS y, yz.b AS z
       |        FROM fin xy JOIN fin yz ON xy.b = yz.a
       |             JOIN fin xz ON xz.a = xy.a AND xz.b = yz.b),
       |fsup AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
       |    SELECT x AS a, y AS b FROM ftr UNION ALL SELECT x, z FROM ftr
       |    UNION ALL SELECT y, z FROM ftr) GROUP BY a, b)
       |SELECT f.a, f.b, CAST(coalesce(fsup.support, 0) AS BIGINT) AS support
       |FROM fin f LEFT JOIN fsup ON fsup.a = f.a AND fsup.b = f.b
       |ORDER BY f.a, f.b""".stripMargin
  }

  private def pageRankOracleSql(iterations: Int,
                                weighted: Boolean = false,
                                seeded: Boolean = false): String = {
    // personalized runs pin the restart mass (and the initial rank) to the
    // seed flag; the global run is the all-seeds case of the same formula
    val base = if (seeded) "CASE WHEN n.seed THEN 150000 ELSE 0 END" else "150000"
    val init = if (seeded) "CASE WHEN seed THEN 1000000 ELSE 0 END" else "1000000"
    val seedFlag =
      if (seeded) ", (node < 1000000 AND node % 97 = 0) AS seed" else ""
    val rounds = (1 to iterations).map { i =>
      s"""pr$i AS (SELECT n.node,
         |  CAST($base + (850000 * coalesce(s.s, 0)) // 1000000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum((CAST(p.r AS HUGEINT) * e.w) // d.sw) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |                 JOIN pr${i - 1} p ON p.node = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    val e0 =
      if (weighted)
        """SELECT o_custkey AS c, l_suppkey AS sp,
          |            CAST(count(DISTINCT o_orderkey) AS BIGINT) AS w
          |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |            GROUP BY 1, 2""".stripMargin
      else
        """SELECT DISTINCT o_custkey AS c, l_suppkey AS sp, CAST(1 AS BIGINT) AS w
          |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin
    s"""WITH e0 AS ($e0),
       |edges AS (SELECT c AS src, sp + 1000000 AS dst, w FROM e0
       |          UNION ALL SELECT sp + 1000000 AS src, c AS dst, w FROM e0),
       |nodes AS (SELECT node$seedFlag FROM (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges)),
       |deg AS (SELECT src, sum(w) AS sw FROM edges GROUP BY src),
       |pr0 AS (SELECT node, CAST($init AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT node, r AS rank_ppm FROM pr$iterations ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.shortestPaths]], relaxation rounds
    * unrolled as MATERIALIZED CTEs (each round references the previous
    * dist frame twice — the kCore inlining hazard). Mirrors the Spark
    * edge/seed build in `graph_bfs` / `graph_shortest_paths` exactly. */
  private def shortestPathsOracleSql(rounds: Int, weighted: Boolean): String = {
    val wExpr = if (weighted) "1 + (src + dst) % 7" else "1"
    val roundCtes = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, min(f.dist + e.w) AS nd
         |  FROM edges e JOIN f${i - 1} f ON f.node = e.src GROUP BY e.dst),
         |i$i AS MATERIALIZED (SELECT c.node, c.nd AS dist FROM c$i c
         |  LEFT JOIN d${i - 1} d ON d.node = c.node
         |  WHERE d.node IS NULL OR c.nd < d.dist),
         |d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM
         |  (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM i$i) GROUP BY node),
         |f$i AS (SELECT node, dist FROM i$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
       |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |eb AS (SELECT c AS src, sp + 1000000 AS dst FROM e0
       |       UNION ALL SELECT sp + 1000000 AS src, c AS dst FROM e0),
       |edges AS MATERIALIZED (SELECT src, dst, CAST($wExpr AS BIGINT) AS w FROM eb),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM (
       |  SELECT DISTINCT o_custkey AS node FROM orders WHERE o_custkey % 97 = 0)
       |  WHERE node IN (SELECT src FROM edges UNION SELECT dst FROM edges)),
       |f0 AS (SELECT node, dist FROM d0),
       |$roundCtes
       |SELECT node, dist FROM d$rounds ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.harmonicCentrality]] —
    * the [[shortestPathsOracleSql]] relaxation unroll with the state
    * keyed (node, landmark), landmarks = bottom-nSeeds nodes by
    * (md5-h60("hc:"∥node), node), and the Σ⌊10⁶/d⌋ rollup. */
  /** DuckDB replay of [[pipeline.Attribution.markovRemovalEffects]] over
    * the events view-campaign journeys — the whole chain unrolled: journey
    * windows → transition counts → removal variants (removed = -99 is
    * "remove nothing"; transitions into a removed campaign redirect to
    * NULL = -3) → `iters` ppm value-iteration sweeps with the same
    * per-term floor `(n·p) // tot` in HUGEINT → removal effects and the
    * proportional cents split. States: START = -1, CONV = -2, NULL = -3. */
  private def markovAttributionOracleSql(iters: Int): String = {
    val sweeps = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT st.removed, st.s,
         |    CASE WHEN st.s IN (-2, -3) OR u.v IS NULL THEN p.p ELSE u.v END AS p
         |  FROM st
         |  JOIN p${i - 1} p ON p.removed = st.removed AND p.s = st.s
         |  LEFT JOIN (SELECT rt.removed, rt.src AS s,
         |               sum((rt.n * pp.p) // tt.tot) AS v
         |             FROM rt
         |             JOIN p${i - 1} pp ON pp.removed = rt.removed AND pp.s = rt.dst
         |             JOIN tot tt ON tt.removed = rt.removed AND tt.src = rt.src
         |             GROUP BY 1, 2) u
         |    ON u.removed = st.removed AND u.s = st.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT user_id, ts, event_id,
       |             CAST(json_extract(props, '$$.k') AS BIGINT) % 5 AS c
       |           FROM events WHERE event_type = 'view'),
       |cu AS (SELECT e.user_id, sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS cents
       |       FROM events e
       |       JOIN (SELECT DISTINCT user_id FROM v) t ON t.user_id = e.user_id
       |       WHERE e.event_type = 'purchase' GROUP BY 1),
       |pot AS (SELECT coalesce(sum(cents), 0) AS pot FROM cu),
       |o AS (SELECT user_id, c,
       |        lead(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
       |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |      FROM v),
       |tr AS (SELECT src, dst, CAST(count(*) AS HUGEINT) AS n FROM (
       |        SELECT o.c AS src,
       |               coalesce(o.nxt,
       |                 CASE WHEN cu.user_id IS NOT NULL THEN -2 ELSE -3 END) AS dst
       |        FROM o LEFT JOIN cu ON cu.user_id = o.user_id
       |        UNION ALL
       |        SELECT -1 AS src, c AS dst FROM o WHERE rn = 1)
       |       GROUP BY 1, 2),
       |ch AS (SELECT DISTINCT s AS c FROM (
       |        SELECT src AS s FROM tr UNION ALL SELECT dst FROM tr) WHERE s >= 0),
       |rv AS (SELECT -99 AS removed UNION ALL SELECT c FROM ch),
       |rt AS (SELECT rv.removed, tr.src,
       |         CASE WHEN tr.dst = rv.removed THEN -3 ELSE tr.dst END AS dst,
       |         sum(tr.n) AS n
       |       FROM rv CROSS JOIN tr GROUP BY 1, 2, 3),
       |tot AS (SELECT removed, src, sum(n) AS tot FROM rt GROUP BY 1, 2),
       |st AS (SELECT rv.removed, q.s FROM rv CROSS JOIN (
       |        SELECT c AS s FROM ch
       |        UNION ALL SELECT -1 UNION ALL SELECT -2 UNION ALL SELECT -3) q),
       |p0 AS (SELECT removed, s,
       |         CAST(CASE WHEN s = -2 THEN 1000000 ELSE 0 END AS HUGEINT) AS p
       |       FROM st),
       |$sweeps,
       |pf AS (SELECT p AS pfull FROM p$iters WHERE removed = -99 AND s = -1),
       |rem AS (SELECT removed AS campaign, p,
       |          (SELECT pfull FROM pf) - p AS r
       |        FROM p$iters WHERE removed >= 0 AND s = -1),
       |trm AS (SELECT sum(r) AS t FROM rem)
       |SELECT CAST(-1 AS BIGINT) AS campaign,
       |       CAST((SELECT pfull FROM pf) AS BIGINT) AS p_removed_ppm,
       |       CAST(0 AS BIGINT) AS removal_ppm,
       |       CAST(0 AS BIGINT) AS attributed_cents
       |UNION ALL
       |SELECT CAST(campaign AS BIGINT),
       |       CAST(p AS BIGINT),
       |       CAST(CASE WHEN (SELECT pfull FROM pf) > 0
       |                 THEN (r * 1000000) // (SELECT pfull FROM pf)
       |                 ELSE 0 END AS BIGINT),
       |       CAST(CASE WHEN (SELECT t FROM trm) > 0
       |                 THEN ((SELECT pot FROM pot) * r) // (SELECT t FROM trm)
       |                 ELSE 0 END AS BIGINT)
       |FROM rem
       |ORDER BY campaign""".stripMargin
  }

  /** ONE round budget shared by the Spark MSF call and its oracle unroll:
    * the Spark loop runs up to this many checked Borůvka rounds while the
    * oracle unrolls exactly this many (idempotent after convergence) — a
    * split budget would let a graph needing more rounds than the oracle
    * unrolls red-flag a correct Spark forest. */
  private val MstRoundBudget = 16

  /** DuckDB replay of [[pipeline.Graph.minimumSpanningForest]] — Borůvka
    * rounds unrolled (idempotent once converged, so a fixed unroll count
    * ≥ ⌈log₂ initial components⌉ is exact): per round the component-label
    * joins, the (w, a, b)-ordered min incident pick per component, and
    * the component merge as a RECURSIVE min-label reachability closure
    * over the selected comp-graph (the dedup_groups pattern — DuckDB
    * recursive CTEs run to fixpoint, matching the checked hook+jump CC). */
  private def mstOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""ec$i AS MATERIALIZED (SELECT e.a, e.b, e.w, ca.comp AS ca, cb.comp AS cb
         |  FROM e JOIN c${i - 1} ca ON ca.node = e.a
         |         JOIN c${i - 1} cb ON cb.node = e.b
         |  WHERE ca.comp <> cb.comp),
         |inc$i AS (SELECT ca AS c, w, a, b, cb AS oc FROM ec$i
         |          UNION ALL SELECT cb, w, a, b, ca FROM ec$i),
         |sel$i AS MATERIALIZED (SELECT c, w, a, b, oc FROM (
         |  SELECT c, w, a, b, oc,
         |         row_number() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
         |  FROM inc$i) WHERE rn = 1),
         |cn$i AS (SELECT DISTINCT comp AS id FROM c${i - 1}),
         |ug$i AS MATERIALIZED (SELECT c AS x, oc AS y FROM sel$i
         |         UNION ALL SELECT oc, c FROM sel$i),
         |reach$i(id, r) AS (
         |  SELECT id, id FROM cn$i
         |  UNION
         |  SELECT reach$i.id, ug$i.y FROM reach$i JOIN ug$i ON ug$i.x = reach$i.r),
         |m$i AS MATERIALIZED (SELECT id, min(r) AS g FROM reach$i GROUP BY id),
         |c$i AS MATERIALIZED (SELECT c.node, m.g AS comp FROM c${i - 1} c JOIN m$i m ON m.id = c.comp)""".stripMargin
    }.mkString(",\n")
    val unionSel = (1 to rounds).map(i => s"SELECT a, b, w FROM sel$i")
      .mkString("\n           UNION ALL ")
    s"""WITH RECURSIVE le AS MATERIALIZED (SELECT DISTINCT l_orderkey AS l, l_partkey AS r
       |            FROM lineitem WHERE l_orderkey % 4 = 0),
       |deg AS MATERIALIZED (SELECT l, count(*) AS d FROM le GROUP BY 1),
       |kept AS MATERIALIZED (SELECT le.l, le.r FROM le JOIN deg USING (l) WHERE d <= 1000),
       |proj AS MATERIALIZED (SELECT x.r AS a, y.r AS b, CAST(count(*) AS BIGINT) AS weight
       |         FROM kept x JOIN kept y ON x.l = y.l AND x.r < y.r GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT a, b, CAST(1000000 // weight AS BIGINT) AS w FROM proj),
       |c0 AS MATERIALIZED (SELECT node, node AS comp FROM (
       |  SELECT DISTINCT a AS node FROM e UNION SELECT DISTINCT b FROM e)),
       |$roundCtes
       |SELECT DISTINCT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |       CAST(w AS BIGINT) AS w
       |FROM ($unionSel)
       |ORDER BY a, b""".stripMargin
  }

  private def harmonicOracleSql(nSeeds: Int, rounds: Int): String =
    landmarkBfsOracleSql(nSeeds, rounds, salt = "hc:",
      finalSelect =
        """SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
          |       CAST(sum(1000000 // dist) AS BIGINT) AS h_ppm""".stripMargin)

  /** DuckDB replay of [[pipeline.Graph.closenessCentrality]] — the same
    * unrolled landmark BFS as the harmonic oracle under the independent
    * "cc:" landmark draw, final readout n·10⁶ // Σdist. */
  private def closenessOracleSql(nSeeds: Int, rounds: Int): String =
    landmarkBfsOracleSql(nSeeds, rounds, salt = "cc:",
      finalSelect =
        """SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
          |       CAST((count(*) * 1000000) // sum(dist) AS BIGINT) AS c_ppm""".stripMargin)

  /** DuckDB replay of [[pipeline.Graph.landmarkEccentricity]] — the
    * same unrolled landmark BFS under the independent "ec:" draw, read
    * per SEED: max distance reached (the diameter lower bound). */
  private def eccentricityOracleSql(nSeeds: Int, rounds: Int): String =
    landmarkBfsOracleSql(nSeeds, rounds, salt = "ec:",
      finalSelect =
        """SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
          |       CAST(max(dist) AS BIGINT) AS eccentricity""".stripMargin,
      groupCol = "seed")

  /** Shared unrolled (node, landmark)-keyed BFS over the bidirected
    * trade graph — the harmonic/closeness oracle skeleton; `finalSelect`
    * reads from the converged distance table (dist > 0 appended here). */
  private def landmarkBfsOracleSql(nSeeds: Int, rounds: Int, salt: String,
                                   finalSelect: String,
                                   groupCol: String = "node"): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, f.seed, min(f.dist + 1) AS nd
         |  FROM edges e JOIN f${i - 1} f ON f.node = e.src GROUP BY 1, 2),
         |i$i AS MATERIALIZED (SELECT c.node, c.seed, c.nd AS dist FROM c$i c
         |  LEFT JOIN d${i - 1} d ON d.node = c.node AND d.seed = c.seed
         |  WHERE d.node IS NULL OR c.nd < d.dist),
         |d$i AS MATERIALIZED (SELECT node, seed, min(dist) AS dist FROM
         |  (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM i$i) GROUP BY node, seed),
         |f$i AS (SELECT node, seed, dist FROM i$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
       |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT c AS src, sp + 1000000 AS dst FROM e0
       |       UNION ALL SELECT sp + 1000000 AS src, c AS dst FROM e0),
       |ns AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |sd AS (SELECT node AS seed FROM (
       |  SELECT node, row_number() OVER (ORDER BY
       |    CAST('0x' || substr(md5('$salt' || CAST(node AS VARCHAR)), 1, 15) AS BIGINT), node) AS rn
       |  FROM ns) WHERE rn <= $nSeeds),
       |d0 AS MATERIALIZED (SELECT seed AS node, seed, CAST(0 AS BIGINT) AS dist FROM sd),
       |f0 AS (SELECT node, seed, dist FROM d0),
       |$roundCtes
       |$finalSelect
       |FROM d$rounds WHERE dist > 0 GROUP BY $groupCol ORDER BY $groupCol""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.betweennessCentrality]] — both
    * Brandes passes unrolled as MATERIALIZED CTEs in HUGEINT: forward
    * level-synchronous BFS (per-level σ sums, anti-join against the
    * visited set) then backward dependency accumulation with the same
    * per-term floor division `(σ_v·(1e6+δ_w)) // σ_w`. Mirrors the Spark
    * bidirected-trade-graph build in `graph_betweenness` exactly. */
  private def betweennessOracleSql(nSeeds: Int, rounds: Int): String = {
    val fwd = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT c.node, c.seed, c.sigma FROM (
         |    SELECT e.dst AS node, f.seed, sum(f.sigma) AS sigma
         |    FROM edges e JOIN l${i - 1} f ON f.node = e.src GROUP BY 1, 2) c
         |  LEFT JOIN v${i - 1} v ON v.node = c.node AND v.seed = c.seed
         |  WHERE v.node IS NULL),
         |v$i AS MATERIALIZED (SELECT node, seed FROM v${i - 1}
         |  UNION ALL SELECT node, seed FROM l$i)""".stripMargin
    }.mkString(",\n")
    val bwdInit =
      s"""d$rounds AS MATERIALIZED (SELECT node, seed, sigma,
         |  CAST(0 AS HUGEINT) AS delta FROM l$rounds)""".stripMargin
    val bwd = ((rounds - 1) to 1 by -1).map { l =>
      s"""d$l AS MATERIALIZED (
         |  SELECT v.node, v.seed, v.sigma,
         |         coalesce(t.d, CAST(0 AS HUGEINT)) AS delta
         |  FROM l$l v LEFT JOIN (
         |    SELECT vv.node, vv.seed,
         |           sum((vv.sigma * (1000000 + w.delta)) // w.sigma) AS d
         |    FROM edges e
         |    JOIN d${l + 1} w ON e.dst = w.node
         |    JOIN l$l vv ON e.src = vv.node AND vv.seed = w.seed
         |    GROUP BY 1, 2) t ON t.node = v.node AND t.seed = v.seed)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 until rounds).map(l => s"SELECT * FROM d$l")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
       |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT c AS src, sp + 1000000 AS dst FROM e0
       |       UNION ALL SELECT sp + 1000000 AS src, c AS dst FROM e0),
       |ns AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |sd AS (SELECT node AS seed FROM (
       |  SELECT node, row_number() OVER (ORDER BY
       |    CAST('0x' || substr(md5('bc:' || CAST(node AS VARCHAR)), 1, 15) AS BIGINT), node) AS rn
       |  FROM ns) WHERE rn <= $nSeeds),
       |l0 AS MATERIALIZED (SELECT seed AS node, seed, CAST(1 AS HUGEINT) AS sigma FROM sd),
       |v0 AS MATERIALIZED (SELECT node, seed FROM l0),
       |$fwd,
       |$bwdInit,
       |$bwd
       |SELECT node, CAST(count(*) AS BIGINT) AS n_seed_paths,
       |       CAST(sum(delta) AS BIGINT) AS bc_ppm
       |FROM ($unionAll) WHERE delta > 0
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.temporalReachability]] —
    * relaxation rounds unrolled as MATERIALIZED CTEs (the
    * [[shortestPathsOracleSql]] structure with the time-respecting
    * qualifier `f.ea <= e.t` on the relaxation join and edge TIME as the
    * candidate value). Mirrors the Spark dated-trade-graph build in
    * `graph_temporal_reach` exactly. */
  private def temporalReachOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, min(e.t) AS nd
         |  FROM edges e JOIN f${i - 1} f ON f.node = e.src AND f.ea <= e.t GROUP BY e.dst),
         |i$i AS MATERIALIZED (SELECT c.node, c.nd AS ea FROM c$i c
         |  LEFT JOIN d${i - 1} d ON d.node = c.node
         |  WHERE d.node IS NULL OR c.nd < d.ea),
         |d$i AS MATERIALIZED (SELECT node, min(ea) AS ea FROM
         |  (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM i$i) GROUP BY node),
         |f$i AS (SELECT node, ea FROM i$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS sp,
       |              CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS t
       |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT c AS src, sp AS dst, t FROM e0
       |       UNION ALL SELECT sp AS src, c AS dst, t FROM e0),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS ea FROM (
       |  SELECT DISTINCT c AS node FROM e0 WHERE c % 97 = 0)
       |  WHERE node IN (SELECT src FROM edges UNION SELECT dst FROM edges)),
       |f0 AS (SELECT node, ea FROM d0),
       |$roundCtes
       |SELECT node, ea AS earliest_t FROM d$rounds ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.labelPropagation]], rounds unrolled
    * as chained CTEs (same reason as [[pageRankOracleSql]]). Mirrors the
    * Spark edge build in `graph_communities`: co-purchase part pairs from
    * a quarter of the orders, undirected. The per-node argmax is a
    * row_number window here (count DESC, label ASC) — semantically the
    * max(struct(c, −label)) aggregate on the Spark side. */
  /** DuckDB replay of [[pipeline.Graph.louvainMoves]] over the
    * co-purchase graph — per round: neighbor-community counts k_{i,c},
    * community degree totals, the exact HUGEINT gain numerator
    * 2m·k_{i,c} − k_i·(tot_c − k_i·[own]), argmax with the
    * score-then-stay-then-smaller-community tie order. */
  private def louvainOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""kic$i AS (SELECT a.node, p.label AS c, CAST(count(*) AS HUGEINT) AS k
         |  FROM adj a JOIN lv${i - 1} p ON p.node = a.nbr GROUP BY 1, 2),
         |tot$i AS (SELECT p.label AS c, CAST(sum(d.k) AS HUGEINT) AS tot
         |  FROM lv${i - 1} p JOIN deg d ON d.node = p.node GROUP BY 1),
         |cand$i AS (SELECT node, c, max(k) AS k FROM (
         |  SELECT node, c, k FROM kic$i
         |  UNION ALL SELECT p.node, p.label AS c, CAST(0 AS HUGEINT) AS k
         |  FROM lv${i - 1} p) GROUP BY 1, 2),
         |sc$i AS (SELECT cd.node, cd.c,
         |    mm.m2 * cd.k - d.k * (t.tot - CASE WHEN cd.c = p.label
         |                                       THEN d.k ELSE CAST(0 AS HUGEINT) END) AS s,
         |    CASE WHEN cd.c = p.label THEN 1 ELSE 0 END AS stay
         |  FROM cand$i cd
         |  JOIN lv${i - 1} p ON p.node = cd.node
         |  JOIN deg d ON d.node = cd.node
         |  JOIN tot$i t ON t.c = cd.c
         |  CROSS JOIN mm),
         |lv$i AS (SELECT node, c AS label FROM (
         |  SELECT node, c, row_number() OVER (PARTITION BY node
         |                                     ORDER BY s DESC, stay DESC, c) AS rn
         |  FROM sc$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
       |und AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |        FROM li x JOIN li y
       |          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |adj AS (SELECT a AS node, b AS nbr FROM und
       |        UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT node, CAST(count(*) AS HUGEINT) AS k FROM adj GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m2 FROM adj),
       |lv0 AS (SELECT DISTINCT node, node AS label FROM adj),
       |$roundCtes
       |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS community
       |FROM lv$rounds ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.louvain]] at levels = 2: the
    * louvainOracleSql level-0 round chain, the contraction (intra weight
    * → self-loop, inter weight → weighted edge, prior degree k = Σw +
    * 2·self), `rounds` WEIGHTED move rounds on the contracted graph
    * (same score/tie template with weight sums; m2 is the level-
    * invariant 2·Σw — the same mm CTE), then the unfold left-join
    * (isolated super-nodes keep their level-0 label). */
  private def louvainFullOracleSql(rounds: Int): String = {
    val lvl0 = (1 to rounds).map { i =>
      s"""kic$i AS (SELECT a.node, p.label AS c, CAST(count(*) AS HUGEINT) AS k
         |  FROM adj a JOIN lv${i - 1} p ON p.node = a.nbr GROUP BY 1, 2),
         |tot$i AS (SELECT p.label AS c, CAST(sum(d.k) AS HUGEINT) AS tot
         |  FROM lv${i - 1} p JOIN deg d ON d.node = p.node GROUP BY 1),
         |cand$i AS (SELECT node, c, max(k) AS k FROM (
         |  SELECT node, c, k FROM kic$i
         |  UNION ALL SELECT p.node, p.label AS c, CAST(0 AS HUGEINT) AS k
         |  FROM lv${i - 1} p) GROUP BY 1, 2),
         |sc$i AS (SELECT cd.node, cd.c,
         |    mm.m2 * cd.k - d.k * (t.tot - CASE WHEN cd.c = p.label
         |                                       THEN d.k ELSE CAST(0 AS HUGEINT) END) AS s,
         |    CASE WHEN cd.c = p.label THEN 1 ELSE 0 END AS stay
         |  FROM cand$i cd
         |  JOIN lv${i - 1} p ON p.node = cd.node
         |  JOIN deg d ON d.node = cd.node
         |  JOIN tot$i t ON t.c = cd.c
         |  CROSS JOIN mm),
         |lv$i AS MATERIALIZED (SELECT node, c AS label FROM (
         |  SELECT node, c, row_number() OVER (PARTITION BY node
         |                                     ORDER BY s DESC, stay DESC, c) AS rn
         |  FROM sc$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val lvl1 = (1 to rounds).map { i =>
      s"""wkic$i AS (SELECT a.node, p.label AS c, CAST(sum(a.w) AS HUGEINT) AS k
         |  FROM adj1 a JOIN wl${i - 1} p ON p.node = a.nbr GROUP BY 1, 2),
         |wtot$i AS (SELECT p.label AS c, CAST(sum(d.k) AS HUGEINT) AS tot
         |  FROM wl${i - 1} p JOIN deg1 d ON d.node = p.node GROUP BY 1),
         |wcand$i AS (SELECT node, c, max(k) AS k FROM (
         |  SELECT node, c, k FROM wkic$i
         |  UNION ALL SELECT p.node, p.label AS c, CAST(0 AS HUGEINT) AS k
         |  FROM wl${i - 1} p) GROUP BY 1, 2),
         |wsc$i AS (SELECT cd.node, cd.c,
         |    mm.m2 * cd.k - d.k * (t.tot - CASE WHEN cd.c = p.label
         |                                       THEN d.k ELSE CAST(0 AS HUGEINT) END) AS s,
         |    CASE WHEN cd.c = p.label THEN 1 ELSE 0 END AS stay
         |  FROM wcand$i cd
         |  JOIN wl${i - 1} p ON p.node = cd.node
         |  JOIN deg1 d ON d.node = cd.node
         |  JOIN wtot$i t ON t.c = cd.c
         |  CROSS JOIN mm),
         |wl$i AS MATERIALIZED (SELECT node, c AS label FROM (
         |  SELECT node, c, row_number() OVER (PARTITION BY node
         |                                     ORDER BY s DESC, stay DESC, c) AS rn
         |  FROM wsc$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
       |und AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |        FROM li x JOIN li y
       |          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und
       |        UNION ALL SELECT b, a FROM und),
       |deg AS MATERIALIZED (SELECT node, CAST(count(*) AS HUGEINT) AS k FROM adj GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m2 FROM adj),
       |lv0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),
       |$lvl0,
       |ce AS MATERIALIZED (SELECT la.label AS ca, lb.label AS cb FROM und
       |       JOIN lv$rounds la ON la.node = und.a
       |       JOIN lv$rounds lb ON lb.node = und.b),
       |self1 AS MATERIALIZED (SELECT ca AS node, CAST(count(*) AS HUGEINT) AS sw
       |          FROM ce WHERE ca = cb GROUP BY 1),
       |we1 AS MATERIALIZED (SELECT least(ca, cb) AS a, greatest(ca, cb) AS b,
       |               CAST(count(*) AS HUGEINT) AS w
       |        FROM ce WHERE ca <> cb GROUP BY 1, 2),
       |adj1 AS MATERIALIZED (SELECT a AS node, b AS nbr, w FROM we1
       |         UNION ALL SELECT b, a, w FROM we1),
       |deg1 AS MATERIALIZED (SELECT t.node, CAST(t.kw + 2 * coalesce(s.sw, 0) AS HUGEINT) AS k
       |         FROM (SELECT node, sum(w) AS kw FROM adj1 GROUP BY 1) t
       |         LEFT JOIN self1 s ON s.node = t.node),
       |wl0 AS MATERIALIZED (SELECT node, node AS label FROM deg1),
       |$lvl1
       |SELECT CAST(l0.node AS BIGINT) AS node,
       |       CAST(coalesce(w.label, l0.label) AS BIGINT) AS community
       |FROM lv$rounds l0 LEFT JOIN wl$rounds w ON w.node = l0.label
       |ORDER BY node""".stripMargin
  }

  private def labelPropagationOracleSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""lp$i AS (SELECT node, label FROM (
         |  SELECT a.node, p.label, count(*) AS c,
         |         row_number() OVER (PARTITION BY a.node
         |                            ORDER BY count(*) DESC, p.label) AS rn
         |  FROM adj a JOIN lp${i - 1} p ON p.node = a.nbr
         |  GROUP BY a.node, p.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
       |und AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |        FROM li x JOIN li y
       |          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |adj AS (SELECT a AS node, b AS nbr FROM und
       |        UNION ALL SELECT b, a FROM und),
       |lp0 AS (SELECT DISTINCT node, node AS label FROM adj),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
       |FROM lp$iterations ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Graph.modularity]] over the
    * label-propagation communities: the LP oracle runs as a nested CTE,
    * then the cross-multiplied HUGEINT contribution per community. */
  private def modularityOracleSql(iterations: Int): String =
    s"""WITH lp AS (${labelPropagationOracleSql(iterations)}),
       |li2 AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
       |und2 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |        FROM li2 x JOIN li2 y
       |          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |wl AS (SELECT la.label AS la, lb.label AS lb FROM und2
       |       JOIN lp la ON la.node = und2.a JOIN lp lb ON lb.node = und2.b),
       |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM wl),
       |intra AS (SELECT la AS l, count(*) AS e FROM wl WHERE la = lb GROUP BY 1),
       |ds AS (SELECT l, count(*) AS d FROM (
       |         SELECT la AS l FROM wl UNION ALL SELECT lb FROM wl) GROUP BY 1),
       |nn AS (SELECT label AS l, count(*) AS n_nodes FROM lp GROUP BY 1)
       |SELECT nn.l AS community, nn.n_nodes,
       |       CAST(coalesce(intra.e, 0) AS BIGINT) AS intra_edges,
       |       CAST(coalesce(ds.d, 0) AS BIGINT) AS degree_sum,
       |       CAST(((CAST(4 AS HUGEINT) * mm.m * coalesce(intra.e, 0)
       |              - CAST(coalesce(ds.d, 0) AS HUGEINT) * coalesce(ds.d, 0)) * 1000000)
       |            // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS q_ppm
       |FROM nn LEFT JOIN intra ON intra.l = nn.l
       |        LEFT JOIN ds ON ds.l = nn.l, mm
       |ORDER BY community""".stripMargin

  /** DuckDB replay of [[pipeline.Graph.kCore]], peel rounds unrolled.
    * Mirrors the co-purchase edge build in `graph_kcore`. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // MATERIALIZED: each round references the previous edge CTE three
    // times — inlining would re-expand the whole chain per reference
    // (3^rounds parquet scans; DuckDB hits the fd limit long before)
    val roundCtes = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n, count(*) AS d FROM (
         |  SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE d >= $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |        WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |       FROM li x JOIN li y
       |         ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |$roundCtes
       |SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS core_degree
       |FROM (SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY node HAVING count(*) >= $k ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[pipeline.TimeSeries.holtWinters]] for
    * `ts_holt_winters`: the same gap-filled spine as the ts_holt oracle,
    * then a recursive CTE carrying the level, trend, and the PERIOD
    * seasonal slots as explicitly rotated columns (s0..s{p−1} — DuckDB
    * recursive CTEs can't index-update a list, so the slot written at
    * step t, pos = (t−1) mod p, is selected by CASE). Every recurrence
    * uses `//` which truncates toward zero exactly like Spark's DIV. */
  private def holtWintersOracleSql(aN: Long, aD: Long, bN: Long, bD: Long,
                                   gN: Long, gD: Long, p: Int, h: Int): String = {
    val (aK, bK, gK) = (aD - aN, bD - bN, gD - gN)
    val sPrev = (0 until p).map(i => s"WHEN $i THEN hw.s$i")
      .mkString(s"(CASE hw.rn % $p ", " ", " END)")
    val l2 = s"(($aN * (f.cents - $sPrev) + $aK * (hw.l + hw.tr)) // $aD)"
    val b2 = s"(($bN * ($l2 - hw.l) + $bK * hw.tr) // $bD)"
    val sNew = s"(($gN * (f.cents - $l2) + $gK * $sPrev) // $gD)"
    val sInit = (0 until p).map(i => s"CAST(0 AS BIGINT) AS s$i").mkString(", ")
    val sUpd = (0 until p).map(i =>
      s"CASE WHEN hw.rn % $p = $i THEN $sNew ELSE hw.s$i END AS s$i").mkString(", ")
    val season = (0 until p).map(i => s"WHEN $i THEN w.s$i")
      .mkString(s"(CASE (l.n + $h - 1) % $p ", " ", " END)")
    s"""WITH RECURSIVE base AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM base GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, CAST(coalesce(base.cents, 0) AS BIGINT) AS cents,
                      CAST(row_number() OVER (PARTITION BY s.user_id ORDER BY s.day) AS BIGINT) AS rn
                    FROM spine s LEFT JOIN base USING (user_id, day)),
              hw AS (
                SELECT user_id, rn, cents AS l, CAST(0 AS BIGINT) AS tr, $sInit
                FROM f WHERE rn = 1
                UNION ALL
                SELECT f.user_id, f.rn, $l2 AS l, $b2 AS tr, $sUpd
                FROM f JOIN hw ON f.user_id = hw.user_id AND f.rn = hw.rn + 1),
              lastn AS (SELECT user_id, max(rn) AS n FROM hw GROUP BY 1)
         SELECT w.user_id, CAST(l.n AS BIGINT) AS n_days,
                CAST(w.l AS BIGINT) AS level_cents,
                CAST(w.tr AS BIGINT) AS trend_cents,
                CAST($season AS BIGINT) AS season_cents,
                CAST(w.l + $h * w.tr + $season AS BIGINT) AS forecast_cents
         FROM hw w JOIN lastn l ON l.user_id = w.user_id AND w.rn = l.n
         ORDER BY w.user_id"""
  }

  /** DuckDB replay of [[pipeline.Layout.zValue]] for `rel_zorder_key`:
    * 8-bit equi-width buckets of (partkey, suppkey) — float bucket math
    * at the identical evaluation order as the Spark Column — then the
    * Morton interleave unrolled as 16 shift/mask terms (col 0 takes the
    * higher bit of each level, matching zValue's fold). */
  private def zOrderOracleSql: String = {
    val terms = (0 until 8).flatMap { i =>
      val base = 1L << (2 * i)
      Seq(s"((b0 >> $i) & 1) * ${2 * base}", s"((b1 >> $i) & 1) * $base")
    }.mkString(" + ")
    s"""WITH m AS (SELECT CAST(min(l_partkey) AS DOUBLE) AS plo,
       |                  CAST(max(l_partkey) AS DOUBLE) AS phi,
       |                  CAST(min(l_suppkey) AS DOUBLE) AS slo,
       |                  CAST(max(l_suppkey) AS DOUBLE) AS shi FROM lineitem),
       |b AS (SELECT l_orderkey, l_linenumber,
       |        CAST(least(255, greatest(0, floor((CAST(l_partkey AS DOUBLE) - plo)
       |          * 256.0 / greatest(phi - plo, 4.9e-324)))) AS BIGINT) AS b0,
       |        CAST(least(255, greatest(0, floor((CAST(l_suppkey AS DOUBLE) - slo)
       |          * 256.0 / greatest(shi - slo, 4.9e-324)))) AS BIGINT) AS b1
       |      FROM lineitem, m)
       |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS z
       |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Relational.welchT]] over lineitem
    * extended-price cents, A vs R: HUGEINT moments (exact, including
    * the integral mean-diff division — DuckDB `//` on DECIMAL returns
    * double, so the oracle stays on HUGEINT), then the pinned-double
    * t²/df tail mirrored TEXTUALLY from the operator. */
  private def welchTOracleSql: String = {
    val va = "((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)))"
    val vb = "((CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)))"
    val sea = s"($va / CAST(na AS DOUBLE))"
    val seb = s"($vb / CAST(nb AS DOUBLE))"
    val md = "((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) - (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))"
    s"""WITH c AS (SELECT l_returnflag AS s,
       |             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
       |           FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       |     m AS (SELECT
       |             CAST(sum(CASE WHEN s = 'A' THEN 1 ELSE 0 END) AS HUGEINT) AS na,
       |             CAST(sum(CASE WHEN s = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
       |             CAST(sum(CASE WHEN s = 'A' THEN v ELSE 0 END) AS HUGEINT) AS sa,
       |             CAST(sum(CASE WHEN s = 'R' THEN v ELSE 0 END) AS HUGEINT) AS sb,
       |             sum(CASE WHEN s = 'A' THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
       |             sum(CASE WHEN s = 'R' THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qb
       |           FROM c)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |       CASE WHEN na > 0 AND nb > 0 THEN CAST((sa * nb - sb * na) * 1000000 // (na * nb) AS BIGINT) END AS mean_diff_ppm,
       |       CASE WHEN na >= 2 AND nb >= 2 AND ($sea + $seb) > 0.0
       |            THEN CAST(floor($md * $md / ($sea + $seb) * 1000000.0) AS BIGINT) END AS t2_ppm,
       |       CASE WHEN na >= 2 AND nb >= 2 AND ($sea + $seb) > 0.0
       |            THEN CAST(floor(($sea + $seb) * ($sea + $seb) / ($sea * $sea / (CAST(na AS DOUBLE) - 1.0) + $seb * $seb / (CAST(nb AS DOUBLE) - 1.0)) * 1000.0) AS BIGINT) END AS df_milli
       |FROM m WHERE na > 0 OR nb > 0""".stripMargin
  }

  /** DuckDB replay of [[pipeline.TimeSeries.kaplanMeier]] over the
    * user-lifetime subjects: per-duration collapse, cumulative risk-set
    * window, lg64 log-survival sum, NULL once the risk set dies out. */
  private def kaplanMeierOracleSql: String = {
    def lg(x: String) =
      s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
    s"""WITH m AS (SELECT max(ts) AS d1 FROM events),
       |u AS (SELECT user_id, min(ts) AS f, max(ts) AS l
       |      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |subj AS (SELECT CAST(date_diff('second', f, l) // 3600 AS BIGINT) AS t,
       |           CASE WHEN l < (SELECT d1 FROM m) - INTERVAL 24 HOURS
       |                THEN 1 ELSE 0 END AS ev FROM u),
       |c AS (SELECT t, CAST(sum(ev) AS BIGINT) AS n_events,
       |        CAST(sum(1 - ev) AS BIGINT) AS n_censored FROM subj GROUP BY t),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM subj),
       |w AS (SELECT t, n_events, n_censored,
       |        CAST((SELECT tt FROM tot) - coalesce(sum(n_events + n_censored)
       |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
       |      FROM c),
       |w2 AS (SELECT *,
       |         CASE WHEN n_events = 0 THEN 0
       |              ELSE ${lg("n_at_risk")} - ${lg("n_at_risk - n_events")} END AS term,
       |         max(CASE WHEN n_at_risk = n_events THEN 1 ELSE 0 END)
       |           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gone
       |       FROM w)
       |SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, n_events, n_censored,
       |       CAST(CASE WHEN gone = 1 THEN NULL
       |            ELSE sum(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            END AS BIGINT) AS neg_log64_surv
       |FROM w2 ORDER BY t""".stripMargin
  }

  /** DuckDB replay of [[pipeline.TextAnalysis.naiveBayesClassify]] —
    * training AND scoring: token counts, class-token table, add-one
    * smoothed lg64 fixed-point log-probs, argmax with the
    * (score DESC, class DESC) order mirroring `max(struct(score, cls))`. */
  private def nbOracleSql: String = {
    def lg(x: String) =
      s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
    s"""WITH toks AS (SELECT doc_id, lang AS actual, wd AS w, CAST(count(*) AS BIGINT) AS tf
       |              FROM (SELECT doc_id, lang,
       |                      unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                             x -> len(x) > 0)) AS wd
       |                    FROM documents WHERE lang IS NOT NULL)
       |              GROUP BY 1, 2, 3),
       |ct AS (SELECT actual AS cls, w, CAST(sum(tf) AS BIGINT) AS ncw FROM toks GROUP BY 1, 2),
       |cls AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS docs
       |        FROM documents WHERE lang IS NOT NULL GROUP BY 1),
       |ncs AS (SELECT cls, CAST(sum(ncw) AS BIGINT) AS nc FROM ct GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM ct),
       |cand AS (SELECT t.doc_id, t.actual, t.tf, c.cls,
       |           CAST(coalesce(ct.ncw, 0) AS BIGINT) AS ncw, ncs.nc,
       |           (SELECT v FROM vv) AS v
       |         FROM toks t CROSS JOIN (SELECT cls FROM cls) c
       |         LEFT JOIN ct ON ct.cls = c.cls AND ct.w = t.w
       |         JOIN ncs ON ncs.cls = c.cls),
       |sc AS (SELECT doc_id, actual, cls,
       |         CAST(sum(tf * (${lg("ncw + 1")} - ${lg("nc + v")})) AS BIGINT) AS s
       |       FROM cand GROUP BY 1, 2, 3),
       |fin AS (SELECT sc.doc_id, sc.actual, sc.cls, sc.s + ${lg("cls.docs")} AS score
       |        FROM sc JOIN cls ON cls.cls = sc.cls),
       |best AS (SELECT doc_id, cls,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls DESC) AS rn
       |         FROM fin),
       |lab AS (SELECT doc_id, lang AS actual FROM documents WHERE lang IS NOT NULL)
       |SELECT lab.doc_id, lab.actual, b.cls AS predicted,
       |       CAST(CASE WHEN lab.actual = b.cls THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM lab LEFT JOIN (SELECT doc_id, cls FROM best WHERE rn = 1) b USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Multimodal.sobelEnergy]] over the
    * planted-grid payloads: pixel (x, y) of the ×4-replicated 36×32
    * raster carries `gridCell(doc_id, (y DIV 4)·9 + (x DIV 4))`, so the
    * 3×3 Sobel unrolls to eight inline evaluations of the cell formula
    * per interior pixel — the oracle convolves the ARITHMETIC the
    * builder planted while the Spark query convolves really-decoded
    * PNG pixels. */
  private def sobelOracleSql: String = {
    def v(dx: Int, dy: Int) = {
      val k = s"(((y + ${dy}) // 4) * 9 + ((x + ${dx}) // 4))"
      s"(((doc_id // 8) * 31 + $k * 131) % 248 + CASE WHEN $k = doc_id % 72 THEN doc_id % 8 ELSE 0 END)"
    }
    val gx = s"((${v(1, -1)} + 2*${v(1, 0)} + ${v(1, 1)}) - (${v(-1, -1)} + 2*${v(-1, 0)} + ${v(-1, 1)}))"
    val gy = s"((${v(-1, 1)} + 2*${v(0, 1)} + ${v(1, 1)}) - (${v(-1, -1)} + 2*${v(0, -1)} + ${v(1, -1)}))"
    s"""WITH px AS (SELECT doc_id, xs.x AS x, ys.y AS y FROM documents,
       |             generate_series(1, 34) xs(x), generate_series(1, 30) ys(y)),
       |     g AS (SELECT doc_id, abs($gx) + abs($gy) AS e FROM px)
       |SELECT doc_id, CAST(36 AS INT) AS width, CAST(32 AS INT) AS height,
       |       CAST(sum(e) AS BIGINT) AS edge_energy,
       |       CAST(sum(e) // 1020 AS BIGINT) AS mean_grad
       |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Clustering.kmeansAssign]]/[[pipeline.Clustering.kmeansSummary]]:
    * Lloyd rounds unrolled as chained CTEs. Seeds = bottom-k by
    * (md5-h60, id) via row_number; assignment = per-vector (d², c)
    * argmin over the centroid cross product; update = per-(cluster, dim)
    * `Σqv[dim] // n` (HUGEINT sum — the DECIMAL(38,0) mirror), empty
    * clusters keep the previous centroid via the LEFT JOIN coalesce.
    * `dims` is pinned to the testdata's embedding width (the Spark op is
    * width-agnostic; the replay needs the explicit range). */
  /** DuckDB replay of [[pipeline.Similarity.kCenterCoreset]] for
    * `emb_coreset`: the greedy farthest-point traversal unrolled — stage
    * i picks argmax(min-d², tie min id) among points at d² > 0 from the
    * chosen set, each stage a 1-row cross join updating the running min
    * with the same integer d² as the Spark literal-center map. */
  private def kCenterOracleSql(k: Int): String = {
    def d2(a: String, b: String) =
      s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    val stages = new StringBuilder(
      s"""c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
         |m1 AS (SELECT q.vec_id, q.qv, ${d2("q.qv", "c1.qv")} AS mind
         |       FROM q CROSS JOIN c1)""".stripMargin)
    for (i <- 2 to k) {
      stages ++= s""",
        |c$i AS (SELECT vec_id, qv, mind FROM m${i - 1}
        |        WHERE mind > 0 ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
      if (i < k) stages ++= s""",
        |m$i AS (SELECT m.vec_id, m.qv, least(m.mind, ${d2("m.qv", s"c$i.qv")}) AS mind
        |        FROM m${i - 1} m CROSS JOIN c$i)""".stripMargin
    }
    val sel = (s"SELECT CAST(1 AS INT) AS rank, vec_id, CAST(NULL AS BIGINT) AS coverage_d2 FROM c1" +:
      (2 to k).map(i =>
        s"SELECT CAST($i AS INT), vec_id, CAST(mind AS BIGINT) FROM c$i")).mkString("\n UNION ALL ")
    s"""WITH q AS (SELECT vec_id,
       |             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |$stages
       |SELECT * FROM ($sel) ORDER BY rank""".stripMargin
  }

  /** DuckDB replay of the [[pipeline.Dedup]] MinHash/SimHash family (r11
    * graduation): the signature hash is the house md5-h60 over the SHARED
    * ShingleSet shingles (`regexp_replace(lower(text), '\s+', ' ', 'g')` +
    * distinct n-gram slices — the formulation 5+ green oracles already
    * pin), permutations are `(a_i·h + b_i) mod (2^61−1)` with the a/b
    * constants inlined from [[graft.functions.Mix.minhashA]]/`minhashB`
    * (ONE source of truth — the literals below are computed by the same
    * function the engine evaluates), and band buckets are md5-h60 of
    * `"band:p_i,…"`. Every stage of the banding pipeline — signature,
    * bucket, skew guard, candidate self-join, exact-Jaccard verify —
    * unrolls into plain SQL. */
  private val mersenne61 = "2305843009213693951"

  /** `list_distinct` shingle list over a normalized-text column `t` —
    * mirrors ShingleSet: positions 1..len−n+1; len ≤ n (incl. empty) →
    * the whole string, exactly like `t[1:n]` at position 1. */
  private def shingleListSql(n: Int): String =
    s"list_distinct(list_transform(range(1, greatest(len(t) - ${n - 2}, 2)), i -> t[i:i+${n - 1}]))"

  /** CTE text from `documents` to `(doc_id, band, bucket)` band keys:
    * n → sh (shingles) → hh (md5-h60) → sig (numHashes mins) → bk. */
  private def minhashBandCtes(numHashes: Int, bands: Int, shingle: Int,
                              where: String = ""): String = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val mins = (0 until numHashes).map { i =>
      s"CAST(min((CAST(${graft.functions.Mix.minhashA(i)} AS HUGEINT) * h + " +
        s"${graft.functions.Mix.minhashB(i)}) % $mersenne61) AS BIGINT) AS p$i"
    }.mkString(",\n         ")
    val arms = (0 until bands).map { b =>
      val cc = (b * r until (b + 1) * r).map(i => s"CAST(p$i AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, CAST('0x' || substr(md5('$b:' || $cc), 1, 15) AS BIGINT) AS bucket FROM sig"
    }.mkString("\n         UNION ALL ")
    s"""n AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents $where),
       |sh AS (SELECT doc_id, unnest(${shingleListSql(shingle)}) AS sg FROM n),
       |hh AS (SELECT doc_id, CAST('0x' || substr(md5(sg), 1, 15) AS BIGINT) AS h FROM sh),
       |sig AS (SELECT doc_id,
       |         $mins
       |        FROM hh GROUP BY doc_id),
       |bk AS ($arms)""".stripMargin
  }

  /** Full replay of `dedup_minhash_pairs`: band keys → maxBucket guard →
    * candidate self-join → exact shingle-5 Jaccard ≥ 0.8. */
  private def minhashPairsOracleSql(): String =
    s"""WITH ${minhashBandCtes(128, 16, 5)},
       |gd AS (SELECT doc_id, band, bucket FROM (
       |         SELECT bk.*, count(*) OVER (PARTITION BY band, bucket) AS nb FROM bk)
       |       WHERE nb <= 200),
       |pr AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |       FROM gd x JOIN gd y
       |         ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |s5 AS (SELECT doc_id, ${shingleListSql(5)} AS sh FROM n),
       |vj AS (SELECT pr.a, pr.b,
       |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
       |       FROM pr JOIN s5 sa ON sa.doc_id = pr.a JOIN s5 sb ON sb.doc_id = pr.b)
       |SELECT a, b, CAST(floor(j * 1000000.0) AS BIGINT) AS jacc_scaled
       |FROM vj WHERE j >= 0.8 ORDER BY a, b""".stripMargin

  /** Full replay of `dedup_crosscorpus_near`: ref = doc_id % 5 = 0 (band
    * keys skew-guarded), fresh = the rest, equi join on (band, bucket),
    * exact shingle-5 Jaccard ≥ 0.6. */
  private def minhashCrossOracleSql(): String =
    s"""WITH ${minhashBandCtes(128, 16, 5)},
       |rg AS (SELECT doc_id, band, bucket FROM (
       |         SELECT bk.*, count(*) OVER (PARTITION BY band, bucket) AS nb
       |         FROM bk WHERE doc_id % 5 = 0)
       |       WHERE nb <= 200),
       |fk AS (SELECT doc_id, band, bucket FROM bk WHERE doc_id % 5 <> 0),
       |pr AS (SELECT DISTINCT f.doc_id AS a, r.doc_id AS b
       |       FROM fk f JOIN rg r ON f.band = r.band AND f.bucket = r.bucket),
       |s5 AS (SELECT doc_id, ${shingleListSql(5)} AS sh FROM n),
       |vj AS (SELECT pr.a, pr.b,
       |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
       |       FROM pr JOIN s5 sa ON sa.doc_id = pr.a JOIN s5 sb ON sb.doc_id = pr.b)
       |SELECT a, b, CAST(floor(j * 1000000.0) AS BIGINT) AS jacc_scaled
       |FROM vj WHERE j >= 0.6 ORDER BY a, b""".stripMargin

  /** Full replay of `dedup_simhash`: 60-bit distinct-shingle simhash (60
    * conditional-sum columns), the SAME `(0 until 6).combinations(3)`
    * Manku key fold as [[pipeline.Dedup]]'s banded64 (generated by the
    * same Scala call — combo indices can never drift), maxBucket guard,
    * candidate join, exact hamming ≤ 3 verify. */
  private def simhashOracleSql(): String = {
    val sums = (0 until 60).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n         ")
    val fp = (0 until 60).map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    val blocks = 6
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockSql(i: Int) = s"((fp >> ${offsets(i)}) & ${(1L << widths(i)) - 1})"
    val arms = (0 until blocks).combinations(blocks - 3).toSeq.zipWithIndex
      .map { case (c, ci) =>
        val key = c.foldLeft("CAST(0 AS BIGINT)")((acc, i) =>
          s"(($acc << ${widths(i)}) | ${blockSql(i)})")
        s"SELECT doc_id, fp, $ci AS combo, $key AS key FROM fps"
      }.mkString("\n         UNION ALL ")
    s"""WITH n AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(${shingleListSql(5)}) AS sg FROM n),
       |hh AS (SELECT doc_id, CAST('0x' || substr(md5(sg), 1, 15) AS BIGINT) AS h FROM sh),
       |bits AS (SELECT doc_id,
       |         $sums
       |        FROM hh GROUP BY doc_id),
       |fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM bits),
       |bd AS ($arms),
       |gd AS (SELECT doc_id, fp, combo, key FROM (
       |         SELECT bd.*, count(*) OVER (PARTITION BY combo, key) AS nb FROM bd)
       |       WHERE nb <= 200)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |       CAST(bit_count(xor(x.fp, y.fp)) AS INT) AS hamming
       |FROM gd x JOIN gd y
       |  ON x.combo = y.combo AND x.key = y.key AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.fp, y.fp)) <= 3
       |ORDER BY a, b""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Classifier]] (r11 graduation): the
    * integer hard-sigmoid linear model's `epochs` full-batch rounds
    * unrolled as chained CTEs — md5-h60("qc:"∥tok) mod numFeatures
    * features, `p = clamp(500000 + z // 4)`, `w ← w − g // (2·e·n)` (1/e
    * step decay) with the bias step scaled by the mean token count, all
    * in HUGEINT (the DECIMAL mirror), then the held-out pure-map scoring.
    * w0 is the empty frame (all-zero weights live implicitly: a feature
    * first gets a row when its gradient first materializes, exactly the
    * Spark driver array's zero default). MATERIALIZED: each w/err CTE is
    * referenced twice downstream — without the hint DuckDB would inline
    * the chain exponentially (the dedup_semantic lesson). */
  private def classifierOracleSql(numFeatures: Int, epochs: Int): String = {
    val words = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"
    def f(tok: String) =
      s"CAST('0x' || substr(md5('qc:' || $tok), 1, 15) AS BIGINT) % $numFeatures"
    val epochCtes = (1 to epochs).map { e =>
      val p = e - 1
      s"""z$e AS MATERIALIZED (
         |  SELECT t.doc_id, t.y, b$p.bv + coalesce(s.zz, 0) AS z
         |  FROM tr t CROSS JOIN b$p
         |  LEFT JOIN (SELECT tf.doc_id, sum(tf.cnt * w.w) AS zz
         |             FROM tf JOIN w$p w USING (f) GROUP BY tf.doc_id) s USING (doc_id)),
         |er$e AS MATERIALIZED (
         |  SELECT doc_id, LEAST(1000000, GREATEST(0, 500000 + z // 4)) - y AS err FROM z$e),
         |b$e AS (SELECT b$p.bv -
         |          ((SELECT coalesce(sum(CAST(err AS HUGEINT)), 0) FROM er$e) * nn.t)
         |            // (2 * $e * nn.n) AS bv
         |        FROM b$p CROSS JOIN nn),
         |w$e AS MATERIALIZED (
         |  SELECT g.f, coalesce(w.w, 0) - g.g // (2 * $e * nn.n) AS w
         |  FROM (SELECT tf.f, sum(CAST(e.err AS HUGEINT) * tf.cnt) AS g
         |        FROM tf JOIN er$e e USING (doc_id) GROUP BY tf.f) g
         |  LEFT JOIN w$p w USING (f) CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN n_chars >= 300 THEN 1000000 ELSE 0 END AS y,
       |         $words AS ws
       |  FROM documents WHERE doc_id % 2 = 0),
       |nn AS (SELECT count(*) AS n,
       |              GREATEST(1, (SELECT coalesce(sum(len(ws)), 0) FROM tr) // count(*)) AS t
       |       FROM tr),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, ${f("tok")} AS f, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM tr) GROUP BY 1, 2),
       |b0 AS (SELECT CAST(0 AS HUGEINT) AS bv),
       |w0 AS (SELECT CAST(NULL AS BIGINT) AS f, CAST(NULL AS HUGEINT) AS w WHERE false),
       |$epochCtes,
       |tq AS (SELECT doc_id, ${f("tok")} AS f, count(*) AS cnt
       |       FROM (SELECT doc_id, unnest($words) AS tok
       |             FROM documents WHERE doc_id % 2 = 1) GROUP BY 1, 2),
       |sc AS (SELECT d.doc_id, b$epochs.bv + coalesce(s.zz, 0) AS z
       |       FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       |       CROSS JOIN b$epochs
       |       LEFT JOIN (SELECT tq.doc_id, sum(tq.cnt * w.w) AS zz
       |                  FROM tq JOIN w$epochs w USING (f) GROUP BY tq.doc_id) s USING (doc_id))
       |SELECT doc_id,
       |       CAST(LEAST(1000000, GREATEST(0, 500000 + z // 4)) AS BIGINT) AS quality_ppm
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Bpe]] train + encode for
    * `text_bpe_encode` (r11 graduation): the `nMerges` greedy merge steps
    * unrolled as chained CTEs. Each word's segmentation is a STRING of
    * chr(30)∥symbol∥chr(31) brackets — `replace(seg, ⟨a⟩⟨b⟩, ⟨ab⟩)` is
    * then EXACTLY the engine's left-to-right non-overlapping `mergeAll`
    * (brackets stop mid-symbol false matches; a consumed bracket can
    * never be the next occurrence's opening one, unlike a single-
    * separator encoding). Step = pair counts (weighted by word counts) →
    * argmax with (count DESC, pair ASC) ties — the trainFromCounts rule —
    * applied only `WHERE cnt >= 2` (the early-stop: exhausted steps
    * no-op idempotently). Encode-given-merges equals the training-final
    * segmentation for corpus words (greedy min-rank replays merges in
    * rank order — verified against the engine on the full corpus), so
    * `n_bpe_tokens = Σ_word |final seg|`. Bracket chars (0x1E/0x1F) are
    * non-whitespace controls that cannot appear in \s-split words of
    * clean text — oracle-side representation only, the engine never sees
    * them. */
  /** DuckDB replay of [[pipeline.Unigram]] — seeding, `iters` hard-EM
    * (Viterbi) rounds, the prune, and the final encode segmentation, all
    * on the SAME integer arithmetic: lg64 in its printf-%b mirror, the
    * (cost, nPieces, path) Viterbi tie chain as a 3-key row_number, the
    * (count DESC, piece) caps with singles pinned at ≥ 1. Every
    * word-position DP unrolls to `maxWordLen` MATERIALIZED steps (words
    * shorter than a step just produce no rows); DuckDB's substr/len are
    * code-point-based, matching the Scala side's code-point positions. */
  private def unigramOracleSql(nVocab: Int, maxPieceLen: Int, seedSize: Int,
                               iters: Int, maxWordLen: Int): String = {
    def lg(x: String) =
      s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
    val words = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"
    val lens = (1 to maxPieceLen).mkString("[", ", ", "]")
    // one Viterbi DP pass over all vocab words against cost table `c`;
    // returns the final{t} CTE text (w, np, path)
    def dpPass(t: String, costCte: String): String = {
      val steps = (1 to maxWordLen).map { j =>
        val members = (math.max(0, j - maxPieceLen) until j).map { i =>
          s"""SELECT d.w, d.cost + c.cost AS cost, d.np + 1 AS np,
             |  CASE WHEN d.path = '' THEN c.p
             |       ELSE d.path || chr(31) || c.p END AS path
             |FROM dp$t$i d JOIN $costCte c ON c.p = substr(d.w, ${i + 1}, ${j - i})
             |WHERE len(d.w) >= $j""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""dp$t$j AS MATERIALIZED (SELECT w, cost, np, path FROM (
           |  SELECT w, cost, np, path,
           |         row_number() OVER (PARTITION BY w ORDER BY cost, np, path) AS rn
           |  FROM ($members)) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val fin = (1 to maxWordLen)
        .map(j => s"SELECT w, np, path FROM dp$t$j WHERE len(w) = $j")
        .mkString("\nUNION ALL\n")
      s"""dp${t}0 AS (SELECT w, CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS path FROM wc),
         |$steps,
         |final$t AS MATERIALIZED ($fin)""".stripMargin
    }
    // one EM round: costs from cap{e-1}, DP pass, usage, cap{e}
    val emRounds = (1 to iters).map { e =>
      val p = e - 1
      s"""tot$e AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cap$p),
         |cost$e AS MATERIALIZED (SELECT p, ${lg("t")} - ${lg("cnt")} AS cost
         |  FROM cap$p CROSS JOIN tot$e),
         |${dpPass(s"e$e", s"cost$e")},
         |usage$e AS MATERIALIZED (SELECT piece AS p, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |  SELECT wc.n, unnest(string_split(f.path, chr(31))) AS piece
         |  FROM finale$e f JOIN wc USING (w)) GROUP BY 1),
         |kept$e AS MATERIALIZED (SELECT p, cnt FROM (
         |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn
         |  FROM usage$e) WHERE rn <= $seedSize),
         |cap$e AS MATERIALIZED (SELECT p, cnt FROM kept$e
         |  UNION ALL
         |  SELECT s.p, greatest(coalesce(m.cnt, 1), 1) FROM singles s
         |  LEFT JOIN usage$e m ON m.p = s.p
         |  WHERE s.p NOT IN (SELECT p FROM kept$e))""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS MATERIALIZED (
       |  SELECT tok AS w, count(*) AS n
       |  FROM (SELECT unnest($words) AS tok FROM documents) GROUP BY 1),
       |guard AS (SELECT CASE WHEN max(len(w)) > $maxWordLen
       |  THEN error('unigram oracle: corpus word exceeds the unrolled maxWordLen=$maxWordLen — raise it')
       |  ELSE 1 END AS ok FROM wc),
       |st1 AS MATERIALIZED (SELECT w, n, unnest(range(1, len(w) + 1)) AS i FROM wc),
       |st2 AS (SELECT w, n, i, unnest($lens) AS l FROM st1),
       |seed AS MATERIALIZED (SELECT substr(w, i, l) AS p, CAST(sum(n) AS BIGINT) AS cnt
       |  FROM st2 WHERE i + l - 1 <= len(w) GROUP BY 1),
       |singles AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS p FROM st1),
       |kept0 AS MATERIALIZED (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn
       |  FROM seed) WHERE rn <= $seedSize),
       |cap0 AS MATERIALIZED (SELECT p, cnt FROM kept0
       |  UNION ALL
       |  SELECT s.p, greatest(coalesce(m.cnt, 1), 1) FROM singles s
       |  LEFT JOIN seed m ON m.p = s.p
       |  WHERE s.p NOT IN (SELECT p FROM kept0)),
       |$emRounds,
       |keptF AS MATERIALIZED (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn
       |  FROM cap$iters) WHERE rn <= $nVocab),
       |capF AS MATERIALIZED (SELECT p, cnt FROM keptF
       |  UNION ALL
       |  SELECT s.p, greatest(coalesce(m.cnt, 1), 1) FROM singles s
       |  LEFT JOIN cap$iters m ON m.p = s.p
       |  WHERE s.p NOT IN (SELECT p FROM keptF)),
       |totF AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM capF),
       |costF AS MATERIALIZED (SELECT p, ${lg("t")} - ${lg("cnt")} AS cost
       |  FROM capF CROSS JOIN totF),
       |${dpPass("f", "costF")},
       |dw AS (SELECT doc_id, unnest($words) AS w FROM documents)
       |SELECT d.doc_id, CAST(coalesce(s.t, 0) AS BIGINT) AS n_unigram_tokens
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN (SELECT dw.doc_id, sum(f.np) AS t
       |           FROM dw JOIN finalf f USING (w) GROUP BY 1) s USING (doc_id)
       |WHERE (SELECT ok FROM guard) = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** The shared BPE train+encode CTE chain (wc → sg_i merge steps →
    * per-word token counts `wlen`) behind [[bpeEncodeOracleSql]] and
    * [[bpeFertilityOracleSql]]. */
  /** DuckDB replay of [[pipeline.Relational.sprt]] over the
    * events_sprt conversion rule — the SAME pinned log literals
    * ([[pipeline.Relational.sprtConstants]]) spliced in, so both
    * engines run one multiply + one add on identical doubles. */
  private def sprtOracleSql(p0: Double, p1: Double, alpha: Double,
                            beta: Double): String = {
    val (c1, c2, up, lo) = pipeline.Relational.sprtConstants(p0, p1, alpha, beta)
    val llr = s"""(CAST(s AS DOUBLE) * CAST('$c1' AS DOUBLE)
       + CAST(n - s AS DOUBLE) * CAST('$c2' AS DOUBLE))"""
    s"""WITH a AS (SELECT event_type,
       |    CASE WHEN value IS NOT NULL AND floor(value * 100 + 0.5) >= 500
       |         THEN 1 ELSE 0 END AS conv
       |  FROM events),
       |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(conv) AS BIGINT) AS s
       |  FROM a GROUP BY 1)
       |SELECT event_type, n AS n_trials, s AS n_success,
       |       CAST(floor(1000 * $llr) AS BIGINT) AS llr_milli,
       |       CASE WHEN $llr >= CAST('$up' AS DOUBLE) THEN 'accept_h1'
       |            WHEN $llr <= CAST('$lo' AS DOUBLE) THEN 'accept_h0'
       |            ELSE 'continue' END AS decision
       |FROM g ORDER BY event_type""".stripMargin
  }

  private def bpeCtePrefix(nMerges: Int): String = {
    val (o, c) = ("chr(30)", "chr(31)")
    val words = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"
    val steps = (1 to nMerges).map { i =>
      val p = i - 1
      s"""px$i AS (SELECT n, sl, unnest(generate_series(1, len(sl)-1)) AS j
         |  FROM (SELECT n, string_split(substr(seg, 2, length(seg)-2), $c||$o) AS sl FROM sg$p)),
         |pc$i AS (SELECT sl[j] AS a, sl[j+1] AS b, sum(n) AS cnt FROM px$i GROUP BY 1, 2),
         |bt$i AS (SELECT * FROM (SELECT a, b, cnt FROM pc$i UNION ALL SELECT '', '', 0)
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |sg$i AS MATERIALIZED (SELECT w, n,
         |  CASE WHEN bt.cnt >= 2
         |       THEN replace(seg, $o||bt.a||$c||$o||bt.b||$c, $o||bt.a||bt.b||$c)
         |       ELSE seg END AS seg
         |  FROM sg$p CROSS JOIN bt$i bt)""".stripMargin
    }.mkString(",\n")
    s"""wc AS MATERIALIZED (
       |  SELECT tok AS w, count(*) AS n
       |  FROM (SELECT unnest($words) AS tok FROM documents) GROUP BY 1),
       |sg0 AS MATERIALIZED (
       |  SELECT w, n,
       |    array_to_string(list_transform([substr(w, i, 1) for i in generate_series(1, length(w))],
       |      x -> $o||x||$c), '') || $o||' '||$c AS seg
       |  FROM wc),
       |$steps,
       |wlen AS (SELECT w, len(string_split(substr(seg, 2, length(seg)-2), $c||$o)) AS k FROM sg$nMerges),
       |dw AS (SELECT doc_id, unnest($words) AS w FROM documents)""".stripMargin
  }

  private def bpeEncodeOracleSql(nMerges: Int): String =
    s"""WITH ${bpeCtePrefix(nMerges)}
       |SELECT d.doc_id, CAST(coalesce(s.t, 0) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN (SELECT dw.doc_id, sum(wlen.k) AS t FROM dw JOIN wlen USING (w) GROUP BY 1) s USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of the r15 tokenizer-FERTILITY readout: the BPE
    * encode chain above joined to the langid stopword heuristic, rolled
    * up per language — tokens, words, UTF-8 word bytes, and the integer
    * milli ratios. */
  private def bpeFertilityOracleSql(nMerges: Int): String =
    s"""WITH ${bpeCtePrefix(nMerges)},
       |toks AS (SELECT dw.doc_id, sum(wlen.k) AS t FROM dw JOIN wlen USING (w) GROUP BY 1),
       |wl AS (SELECT doc_id,
       |         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |       FROM documents),
       |st AS (SELECT doc_id, list_distinct(ws) AS du FROM wl),
       |lg AS (SELECT st.doc_id,
       |         len(list_intersect(du, ['the','and','of','to','a','in','is','that','it','for'])) en,
       |         len(list_intersect(du, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
       |         len(list_intersect(du, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
       |         len(list_intersect(du, ['el','la','los','y','es','un','una','para','en','que'])) es
       |       FROM st),
       |lang AS (SELECT doc_id,
       |         CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
       |              WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
       |              WHEN fr >= es AND fr > 0 THEN 'fr'
       |              WHEN es > 0 THEN 'es'
       |              ELSE 'und' END AS lang
       |       FROM lg),
       |per AS (SELECT wl.doc_id, lang.lang,
       |         CAST(coalesce(len(wl.ws), 0) AS BIGINT) AS nw,
       |         CAST(coalesce(list_sum(list_transform(wl.ws, x -> strlen(x))), 0) AS BIGINT) AS nb,
       |         CAST(coalesce(toks.t, 0) AS BIGINT) AS nt
       |       FROM wl JOIN lang USING (doc_id) LEFT JOIN toks USING (doc_id))
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(nw) AS BIGINT) AS n_words,
       |       CAST(sum(nt) AS BIGINT) AS n_tokens,
       |       CAST(sum(nb) AS BIGINT) AS n_word_bytes,
       |       CASE WHEN sum(nw) > 0
       |            THEN CAST(sum(nt) * 1000 // sum(nw) AS BIGINT) END AS fertility_milli,
       |       CASE WHEN sum(nt) > 0
       |            THEN CAST(sum(nb) * 1000 // sum(nt) AS BIGINT) END AS bytes_per_token_milli
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  /** DuckDB replay of [[pipeline.Similarity.ivfTopKExact]] for
    * `ann_ivf_topk` (r11 graduation — the single-direction sibling of
    * [[ivfMutualOracleSql]]): unit-quantize → md5-h60("ivq:"∥id) spread
    * sample (first `sampleSize` rows) → seeds → `iters` pure-integer
    * Lloyd rounds (MATERIALIZED — 10 chained rounds would otherwise
    * inline exponentially) → corpus keyed by its 1 nearest list, the
    * `vec_id < 5` queries probing `nProbe` → full-precision quantized
    * cosine at the list join (self pairs excluded) → top-k by
    * (cos DESC, neighbor ASC). */
  private def ivfTopKOracleSql(nLists: Int, nProbe: Int, sampleSize: Int,
                               iters: Int, dims: Int, k: Int): String = {
    val h60 = "CAST('0x' || substr(md5('ivq:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
    def d2(v: String, c: String) =
      s"list_sum(list_transform(list_zip($v, $c), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT rk, uq, c FROM (
         |  SELECT rk, uq, c, row_number() OVER (PARTITION BY rk ORDER BY dd, c) AS rn
         |  FROM (SELECT s.rk, s.uq, cc.c, ${d2("s.uq", "cc.cv")} AS dd
         |        FROM (SELECT * FROM sq WHERE rk < $sampleSize) s
         |        CROSS JOIN c${i - 1} cc)) WHERE rn = 1),
         |m$i AS MATERIALIZED (SELECT c, list(comp ORDER BY dim) AS mv FROM (
         |  SELECT c, t.dim,
         |    CAST(sum(CAST(uq[t.dim] AS HUGEINT)) // count(*) AS BIGINT) AS comp
         |  FROM a$i CROSS JOIN range(1, ${dims + 1}) t(dim)
         |  GROUP BY c, t.dim) GROUP BY c),
         |c$i AS MATERIALIZED (SELECT p.c,
         |  coalesce(CASE WHEN u.ms > 0
         |                THEN list_transform(u.mv, x -> (x * 1000000) // u.ms)
         |                ELSE u.mv END, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT c, mv, CAST(floor(sqrt(CAST(list_sum(list_transform(mv, x -> x * x)) AS DOUBLE))) AS BIGINT) AS ms
         |    FROM m$i) u ON u.c = p.c)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |uv AS MATERIALIZED (SELECT vec_id, qv, list_transform(qv, x -> (x * 1000000) // s) AS uq
       |       FROM (SELECT vec_id, qv,
       |               CAST(floor(sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))) AS BIGINT) AS s
       |             FROM base) WHERE s > 0),
       |sq AS MATERIALIZED (SELECT uq, row_number() OVER (ORDER BY $h60, vec_id) - 1 AS rk FROM uv),
       |c0 AS (SELECT rk AS c, uq AS cv FROM sq WHERE rk < $nLists),
       |$rounds,
       |co AS MATERIALIZED (SELECT vec_id AS neighbor_id, qv, lst FROM (
       |  SELECT vec_id, qv, lst, row_number() OVER (PARTITION BY vec_id ORDER BY dd, lst) AS rn
       |  FROM (SELECT v.vec_id, v.qv, cc.c AS lst, ${d2("v.uq", "cc.cv")} AS dd
       |        FROM uv v CROSS JOIN c$iters cc)) WHERE rn = 1),
       |qr AS (SELECT vec_id AS query_id, qv, lst FROM (
       |  SELECT vec_id, qv, lst, row_number() OVER (PARTITION BY vec_id ORDER BY dd, lst) AS rn
       |  FROM (SELECT v.vec_id, v.qv, cc.c AS lst, ${d2("v.uq", "cc.cv")} AS dd
       |        FROM (SELECT * FROM uv WHERE vec_id < 5) v
       |        CROSS JOIN c$iters cc)) WHERE rn <= $nProbe),
       |pf AS (SELECT q.query_id, c.neighbor_id,
       |  CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(q.qv, c.qv), p -> p[1] * p[2])) AS DOUBLE)
       |    / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
       |     * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
       |  FROM qr q JOIN co c USING (lst)
       |  WHERE q.query_id <> c.neighbor_id)
       |SELECT query_id, rank, neighbor_id, cos_scaled FROM (
       |  SELECT query_id, neighbor_id, cos_scaled,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_scaled DESC, neighbor_id) AS INT) AS rank
       |  FROM pf) t
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Similarity.pcaTopKExact]] for
    * `ann_pca_topk` (r12 graduation — the last deterministic rows-only
    * holdout): quantize `floor(x·1024 + 0.5)` → integer scatter matrix
    * `S = n·Σqqᵀ − (Σq)(Σq)ᵀ` as a 4096-row (i, j, s) HUGEINT frame →
    * per component k: `iters` power-iteration stages (`w = S·v`, then
    * `v = w·2¹⁵ // (max|w| + 1)` — every stage MATERIALIZED: v and w are
    * each referenced twice, so un-materialized CTEs would inline
    * exponentially) → integer Rayleigh deflation
    * `S ← S − lam·vvᵀ // greatest(1, dd²)` → projections
    * `p_k = Σ v_kj·q_j // 2¹⁶` → shortlist by projected dot
    * (dot DESC, neighbor ASC) → full-precision quantized-cosine rerank
    * (the shared ANN tail). ~${2·r·iters} tiny CTE stages — the bpe
    * 200-merge-unroll precedent, applied to an eigensolve. */
  private def pcaTopKOracleSql(r: Int, iters: Int, dims: Int, k: Int,
                               expand: Int): String = {
    val comps = (1 to r).map { kk =>
      val mat = s"s${kk - 1}"
      val start = s"v${kk}_0 AS (SELECT j, CAST(1 AS HUGEINT) AS v FROM range($dims) t(j))"
      val steps = (1 to iters).map { i =>
        s"""w${kk}_$i AS MATERIALIZED (SELECT m.i AS j, sum(m.s * v.v) AS w
           |  FROM $mat m JOIN v${kk}_${i - 1} v ON v.j = m.j GROUP BY m.i),
           |v${kk}_$i AS MATERIALIZED (SELECT j,
           |  (w * 32768) // ((SELECT max(abs(w)) FROM w${kk}_$i) + 1) AS v
           |  FROM w${kk}_$i)""".stripMargin
      }.mkString(",\n")
      val defl = if (kk < r)
        s""",
           |dd$kk AS MATERIALIZED (SELECT sum(v * v) AS dd FROM v${kk}_$iters),
           |lam$kk AS MATERIALIZED (SELECT sum(a.v * m.s * b.v) AS lam
           |  FROM $mat m JOIN v${kk}_$iters a ON a.j = m.i
           |  JOIN v${kk}_$iters b ON b.j = m.j),
           |s$kk AS MATERIALIZED (SELECT m.i, m.j,
           |  m.s - ((SELECT lam FROM lam$kk) * a.v * b.v)
           |    // greatest(CAST(1 AS HUGEINT),
           |         (SELECT dd FROM dd$kk) * (SELECT dd FROM dd$kk)) AS s
           |  FROM $mat m JOIN v${kk}_$iters a ON a.j = m.i
           |  JOIN v${kk}_$iters b ON b.j = m.j)""".stripMargin
      else ""
      s"$start,\n$steps$defl"
    }.mkString(",\n")
    val projs = (1 to r).map { kk =>
      s"""pr$kk AS MATERIALIZED (SELECT b.vec_id,
         |  CAST(sum(v.v * CAST(b.q[v.j + 1] AS HUGEINT)) // 65536 AS BIGINT) AS p
         |  FROM base b CROSS JOIN v${kk}_$iters v GROUP BY b.vec_id)""".stripMargin
    }.mkString(",\n")
    val pmat = (1 to r)
      .map(kk => s"SELECT vec_id, $kk AS kk, p FROM pr$kk")
      .mkString("\n  UNION ALL ")
    s"""WITH base AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM base),
       |comp AS MATERIALIZED (SELECT vec_id, CAST(t.j AS INT) AS j,
       |    CAST(q[t.j + 1] AS HUGEINT) AS x
       |  FROM base CROSS JOIN range($dims) t(j)),
       |sums AS MATERIALIZED (SELECT j, sum(x) AS s FROM comp GROUP BY j),
       |s0 AS MATERIALIZED (SELECT p.i, p.j,
       |    (SELECT n FROM tot) * p.p - sa.s * sb.s AS s
       |  FROM (SELECT a.j AS i, b.j AS j, sum(a.x * b.x) AS p
       |        FROM comp a JOIN comp b ON a.vec_id = b.vec_id
       |        GROUP BY a.j, b.j) p
       |  JOIN sums sa ON sa.j = p.i JOIN sums sb ON sb.j = p.j),
       |$comps,
       |$projs,
       |pmat AS MATERIALIZED ($pmat),
       |sc AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
       |    sum(qq.p * cc.p) AS dot
       |  FROM pmat qq JOIN pmat cc ON cc.kk = qq.kk AND cc.vec_id <> qq.vec_id
       |  WHERE qq.vec_id < 5 GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rn
       |  FROM sc) WHERE rn <= ${k * expand}),
       |qv6 AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |pf AS (SELECT s.query_id, s.neighbor_id,
       |  CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(q.qv, c.qv), p -> p[1] * p[2])) AS DOUBLE)
       |    / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
       |     * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
       |  FROM short s JOIN qv6 q ON q.vec_id = s.query_id
       |  JOIN qv6 c ON c.vec_id = s.neighbor_id)
       |SELECT query_id, rank, neighbor_id, cos_scaled FROM (
       |  SELECT query_id, neighbor_id, cos_scaled,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_scaled DESC, neighbor_id) AS INT) AS rank
       |  FROM pf) t
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Similarity.lshTopKExact]] for
    * `ann_lsh_topk` (r11 graduation): hyperplane components regenerated
    * from md5-h60("lshx:t:p:d") % 2^21 − 2^20 over range() cross joins,
    * integer dots of the quantized vectors, sign buckets, margin-ranked
    * (|dot| asc, plane asc) probeBits planes per (query, table), probe
    * set = own bucket ∪ every ≤radius-subset flip (UNION branches per
    * subset size), bucket equi-join, full-precision quantized cosine,
    * top-k by (cos DESC, neighbor ASC). */
  private def lshTopKOracleSql(numTables: Int, numPlanes: Int, dims: Int,
                               probeBits: Int, radius: Int, k: Int): String = {
    require(radius >= 1 && radius <= 3, "oracle unrolls subset sizes 1..3")
    val flips = Seq(
      """SELECT s1.vec_id, s1.t, xor(q.bucket, 1 << s1.p) AS bucket
        |  FROM sel s1 JOIN qb q ON q.vec_id = s1.vec_id AND q.t = s1.t""".stripMargin,
      """SELECT s1.vec_id, s1.t, xor(q.bucket, (1 << s1.p) + (1 << s2.p)) AS bucket
        |  FROM sel s1 JOIN sel s2 ON s2.vec_id = s1.vec_id AND s2.t = s1.t AND s1.p < s2.p
        |  JOIN qb q ON q.vec_id = s1.vec_id AND q.t = s1.t""".stripMargin,
      """SELECT s1.vec_id, s1.t, xor(q.bucket, (1 << s1.p) + (1 << s2.p) + (1 << s3.p)) AS bucket
        |  FROM sel s1 JOIN sel s2 ON s2.vec_id = s1.vec_id AND s2.t = s1.t AND s1.p < s2.p
        |  JOIN sel s3 ON s3.vec_id = s1.vec_id AND s3.t = s1.t AND s2.p < s3.p
        |  JOIN qb q ON q.vec_id = s1.vec_id AND q.t = s1.t""".stripMargin
    ).take(radius).mkString("\n  UNION\n  ")
    s"""WITH base AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |pl AS MATERIALIZED (SELECT t, p, list(comp ORDER BY d) AS cv FROM (
       |  SELECT t.t, p.p, d.d,
       |    CAST('0x' || substr(md5('lshx:' || t.t || ':' || p.p || ':' || d.d), 1, 15) AS BIGINT)
       |      % 2097152 - 1048576 AS comp
       |  FROM range($numTables) t(t) CROSS JOIN range($numPlanes) p(p)
       |  CROSS JOIN range($dims) d(d)) GROUP BY t, p),
       |dots AS MATERIALIZED (SELECT b.vec_id, pl.t, pl.p,
       |    CAST(list_sum(list_transform(list_zip(b.qv, pl.cv), z -> z[1] * z[2])) AS BIGINT) AS dot
       |  FROM base b CROSS JOIN pl),
       |cb AS MATERIALIZED (SELECT vec_id, t,
       |    CAST(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
       |  FROM dots GROUP BY vec_id, t),
       |qb AS (SELECT vec_id, t, bucket FROM cb WHERE vec_id < 5),
       |sel AS (SELECT vec_id, t, p FROM (
       |  SELECT vec_id, t, p, row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(dot), p) AS rn
       |  FROM dots WHERE vec_id < 5) WHERE rn <= $probeBits),
       |probes AS (SELECT vec_id, t, bucket FROM qb
       |  UNION
       |  $flips),
       |cand AS (SELECT DISTINCT pr.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM probes pr JOIN cb c ON c.t = pr.t AND c.bucket = pr.bucket
       |  WHERE c.vec_id <> pr.vec_id),
       |pf AS (SELECT cd.query_id, cd.neighbor_id,
       |  CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(q.qv, c.qv), z -> z[1] * z[2])) AS DOUBLE)
       |    / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
       |     * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
       |  FROM cand cd
       |  JOIN base q ON q.vec_id = cd.query_id
       |  JOIN base c ON c.vec_id = cd.neighbor_id)
       |SELECT query_id, rank, neighbor_id, cos_scaled FROM (
       |  SELECT query_id, neighbor_id, cos_scaled,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_scaled DESC, neighbor_id) AS INT) AS rank
       |  FROM pf) t
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Similarity.pqTopKExact]] for
    * `ann_pq_topk` (r11 graduation): unit-quantize → md5-h60("ivq:"∥id)
    * sample order → per-subspace integer Lloyd, ALL subspaces per round
    * in ONE CTE chain (state keyed (subspace, code) — iters rounds, not
    * m·iters) → corpus codes → query integer LUTs → exact long ADC →
    * k·expand shortlist by (adc DESC, neighbor ASC) → full-precision
    * quantized-cosine rerank → top-k by (cos DESC, neighbor ASC). */
  private def pqTopKOracleSql(m: Int, ksub: Int, sampleSize: Int, iters: Int,
                              dims: Int, k: Int, expand: Int): String = {
    val dsub = dims / m
    val h60 = "CAST('0x' || substr(md5('ivq:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
    def d2(v: String, c: String) =
      s"list_sum(list_transform(list_zip($v, $c), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT rk, s, sv, c FROM (
         |  SELECT t.rk, t.s, t.sv, kb.c,
         |         row_number() OVER (PARTITION BY t.rk, t.s ORDER BY ${d2("t.sv", "kb.cv")}, kb.c) AS rn
         |  FROM sv t JOIN k${i - 1} kb ON kb.s = t.s) WHERE rn = 1),
         |m$i AS MATERIALIZED (SELECT s, c, list(comp ORDER BY dim) AS mv FROM (
         |  SELECT s, c, t.dim,
         |    CAST(sum(CAST(sv[t.dim] AS HUGEINT)) // count(*) AS BIGINT) AS comp
         |  FROM a$i CROSS JOIN range(1, ${dsub + 1}) t(dim)
         |  GROUP BY s, c, t.dim) GROUP BY s, c),
         |k$i AS MATERIALIZED (SELECT p.s, p.c, coalesce(u.mv, p.cv) AS cv
         |  FROM k${i - 1} p LEFT JOIN m$i u ON u.s = p.s AND u.c = p.c)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |uv AS MATERIALIZED (SELECT vec_id, qv, list_transform(qv, x -> (x * 1000000) // s) AS uq
       |       FROM (SELECT vec_id, qv,
       |               CAST(floor(sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))) AS BIGINT) AS s
       |             FROM base) WHERE s > 0),
       |sq AS MATERIALIZED (SELECT uq, row_number() OVER (ORDER BY $h60, vec_id) - 1 AS rk
       |  FROM uv QUALIFY rk < $sampleSize),
       |sv AS MATERIALIZED (SELECT rk, t.s, uq[t.s * $dsub + 1 : (t.s + 1) * $dsub] AS sv
       |  FROM sq CROSS JOIN range($m) t(s)),
       |k0 AS (SELECT s, rk AS c, sv AS cv FROM sv WHERE rk < $ksub),
       |$rounds,
       |cs AS MATERIALIZED (SELECT vec_id, s, c AS code FROM (
       |  SELECT v.vec_id, t.s, kb.c,
       |         row_number() OVER (PARTITION BY v.vec_id, t.s
       |           ORDER BY ${d2(s"v.uq[t.s * $dsub + 1 : (t.s + 1) * $dsub]", "kb.cv")}, kb.c) AS rn
       |  FROM uv v CROSS JOIN range($m) t(s)
       |  JOIN k$iters kb ON kb.s = t.s) WHERE rn = 1),
       |ql AS (SELECT v.vec_id AS query_id, kb.s, kb.c,
       |    CAST(list_sum(list_transform(
       |      list_zip(v.uq[kb.s * $dsub + 1 : (kb.s + 1) * $dsub], kb.cv),
       |      p -> p[1] * p[2])) AS BIGINT) AS dot
       |  FROM (SELECT * FROM uv WHERE vec_id < 5) v CROSS JOIN k$iters kb),
       |adc AS (SELECT l.query_id, n.vec_id AS neighbor_id, CAST(sum(l.dot) AS BIGINT) AS adc
       |  FROM cs n JOIN ql l ON l.s = n.s AND l.c = n.code
       |  WHERE l.query_id <> n.vec_id GROUP BY 1, 2),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rn
       |  FROM adc) WHERE rn <= ${k * expand}),
       |pf AS (SELECT sl.query_id, sl.neighbor_id,
       |  CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(q.qv, c.qv), z -> z[1] * z[2])) AS DOUBLE)
       |    / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
       |     * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
       |  FROM sl
       |  JOIN base q ON q.vec_id = sl.query_id
       |  JOIN base c ON c.vec_id = sl.neighbor_id)
       |SELECT query_id, rank, neighbor_id, cos_scaled FROM (
       |  SELECT query_id, neighbor_id, cos_scaled,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_scaled DESC, neighbor_id) AS INT) AS rank
       |  FROM pf) t
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Per-doc language vote with the text_langid stopword lists, text
    * expression parameterized — shared by the `text_rater_agreement`
    * oracle's three raters (full / first half / second half). */
  private def langIdSelectSql(textExpr: String): String =
    s"""SELECT doc_id,
       |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
       |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
       |       WHEN fr >= es AND fr > 0 THEN 'fr'
       |       WHEN es > 0 THEN 'es'
       |       ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id,
       |        len(list_intersect(ws, ['the','and','of','to','a','in','is','that','it','for'])) en,
       |        len(list_intersect(ws, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
       |        len(list_intersect(ws, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
       |        len(list_intersect(ws, ['el','la','los','y','es','un','una','para','en','que'])) es
       |      FROM (SELECT doc_id,
       |              list_distinct(list_filter(regexp_split_to_array(lower($textExpr), '\\s+'),
       |                x -> len(x) > 0)) ws
       |            FROM documents))""".stripMargin

  /** DuckDB replay of `text_rater_agreement`: three langid raters
    * unioned long-form, then the exact Fleiss rational. */
  private def fleissOracleSql: String =
    s"""WITH r AS (
       |  ${langIdSelectSql("text")}
       |  UNION ALL ${langIdSelectSql("substr(text, 1, CAST(floor(len(text) / 2) AS INT))")}
       |  UNION ALL ${langIdSelectSql("substr(text, CAST(floor(len(text) / 2) AS INT) + 1)")}),
       |cells AS (SELECT doc_id AS i, lang_pred AS c, CAST(count(*) AS BIGINT) AS n
       |          FROM r GROUP BY 1, 2),
       |pi AS (SELECT i, CAST(sum(n) AS BIGINT) AS ni,
       |         CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS s2i
       |       FROM cells GROUP BY 1),
       |it AS (SELECT CAST(count(*) AS HUGEINT) AS N, min(ni) AS nmin, max(ni) AS nmax,
       |         CAST(sum(s2i) AS HUGEINT) AS s2 FROM pi),
       |ct AS (SELECT CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS cq,
       |         CAST(count(*) AS BIGINT) AS k
       |       FROM (SELECT c, CAST(sum(n) AS BIGINT) AS cj FROM cells GROUP BY 1))
       |SELECT CAST(N AS BIGINT) AS n_items, CAST(nmin AS BIGINT) AS n_raters,
       |       k AS n_categories,
       |       CASE WHEN nmin = nmax AND nmin >= 2
       |             AND (N * nmin * (nmin - 1)) * (N * nmin * (N * nmin) - cq) <> 0
       |         THEN CAST(((s2 - N * nmin) * (N * nmin) * (N * nmin)
       |               - (N * nmin * (nmin - 1)) * cq) * 1000000
       |             // ((N * nmin * (nmin - 1)) * (N * nmin * (N * nmin) - cq)) AS BIGINT)
       |       END AS kappa_ppm
       |FROM it CROSS JOIN ct WHERE N > 0""".stripMargin

  /** Pinned-literal oracle for the `ann_*_recall` family: per-query
    * recall@10 values measured off the deterministic engine on the seed-42
    * testdata, floor-asserted in the WHERE (see the oracleSql comment). */
  private def annRecallOracleSql(ppm: Seq[Long], floorPpm: Long): String = {
    val vals = ppm.zipWithIndex
      .map { case (p, q) => s"(CAST($q AS BIGINT), CAST($p AS BIGINT))" }
      .mkString(", ")
    s"""SELECT query_id, recall_ppm
       |FROM (VALUES $vals) t(query_id, recall_ppm)
       |WHERE recall_ppm >= $floorPpm
       |ORDER BY query_id""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Dedup.semanticDedup]] (r11 graduation):
    * the integer-exact spherical quantizer ([[pipeline.Similarity.assignClustersExact]]
    * — same md5-h60("ivq:"∥id) sample / pure-long Lloyd / smaller-id-tie
    * arithmetic the green `emb_mutual_pairs_blocked` oracle already pins),
    * then the SemDeDup body: quantized-identity collapse (group by
    * (cluster, qv), min-id rep), within-cluster pairs on the exact
    * quantized cosine ≥ threshold, greedy keep-min-id. No sub-splits at
    * gate scale (500 ≪ maxCluster), mirrored by construction. */
  private def semanticOracleSql(nClusters: Int, iters: Int, dims: Int,
                                threshold: Double): String = {
    val h60 = "CAST('0x' || substr(md5('ivq:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
    def d2(v: String, c: String) =
      s"list_sum(list_transform(list_zip($v, $c), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT rk, uq, c FROM (
         |  SELECT rk, uq, c, row_number() OVER (PARTITION BY rk ORDER BY dd, c) AS rn
         |  FROM (SELECT s.rk, s.uq, cc.c, ${d2("s.uq", "cc.cv")} AS dd
         |        FROM sq s CROSS JOIN c${i - 1} cc)) WHERE rn = 1),
         |m$i AS MATERIALIZED (SELECT c, list(comp ORDER BY dim) AS mv FROM (
         |  SELECT c, t.dim,
         |    CAST(sum(CAST(uq[t.dim] AS HUGEINT)) // count(*) AS BIGINT) AS comp
         |  FROM a$i CROSS JOIN range(1, ${dims + 1}) t(dim)
         |  GROUP BY c, t.dim) GROUP BY c),
         |c$i AS MATERIALIZED (SELECT p.c,
         |  coalesce(CASE WHEN u.ms > 0
         |                THEN list_transform(u.mv, x -> (x * 1000000) // u.ms)
         |                ELSE u.mv END, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT c, mv, CAST(floor(sqrt(CAST(list_sum(list_transform(mv, x -> x * x)) AS DOUBLE))) AS BIGINT) AS ms
         |    FROM m$i) u ON u.c = p.c)""".stripMargin
    }.mkString(",\n")
    val qcos = "CAST(list_sum(list_transform(list_zip(x.qv, y.qv), p -> p[1] * p[2])) AS DOUBLE)" +
      " / (sqrt(CAST(list_sum(list_transform(x.qv, v -> v * v)) AS DOUBLE))" +
      " * sqrt(CAST(list_sum(list_transform(y.qv, v -> v * v)) AS DOUBLE)))"
    s"""WITH base AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |uv AS MATERIALIZED (SELECT vec_id, qv, list_transform(qv, x -> (x * 1000000) // s) AS uq
       |       FROM (SELECT vec_id, qv,
       |               CAST(floor(sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))) AS BIGINT) AS s
       |             FROM base WHERE qv IS NOT NULL) WHERE s > 0),
       |sq AS MATERIALIZED (SELECT uq, row_number() OVER (ORDER BY $h60, vec_id) - 1 AS rk FROM uv),
       |c0 AS (SELECT rk AS c, uq AS cv FROM sq WHERE rk < $nClusters),
       |$rounds,
       |af AS MATERIALIZED (SELECT vec_id, c FROM (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) AS rn
       |  FROM (SELECT v.vec_id, cc.c, ${d2("v.uq", "cc.cv")} AS dd
       |        FROM uv v CROSS JOIN c$iters cc)) WHERE rn = 1),
       |asg AS MATERIALIZED (SELECT b.vec_id, b.qv, CAST(coalesce(af.c, -1) AS INT) AS cluster,
       |          coalesce(len(list_filter(b.qv, x -> x IS NULL)) = 0
       |                   AND len(list_filter(b.qv, x -> x <> 0)) > 0, false) AS cl
       |        FROM base b LEFT JOIN af USING (vec_id)),
       |reps AS (SELECT cluster, qv, min(vec_id) AS rep
       |         FROM asg WHERE cl GROUP BY cluster, qv),
       |wr AS MATERIALIZED (SELECT a.*, r.rep FROM asg a
       |       LEFT JOIN reps r ON a.cluster = r.cluster AND a.qv = r.qv),
       |idup AS (SELECT vec_id, cluster FROM wr WHERE cl AND vec_id <> rep),
       |blocks AS MATERIALIZED (SELECT vec_id, cluster, qv FROM wr WHERE NOT cl OR vec_id = rep),
       |dups AS (SELECT DISTINCT y.vec_id
       |         FROM blocks x JOIN blocks y
       |           ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |         WHERE list_sum(list_transform(x.qv, v -> v * v)) > 0
       |           AND list_sum(list_transform(y.qv, v -> v * v)) > 0
       |           AND $qcos >= $threshold)
       |SELECT vec_id, cluster, is_semantic_duplicate FROM (
       |  SELECT b.vec_id, b.cluster, coalesce(d.vec_id IS NOT NULL, false) AS is_semantic_duplicate
       |  FROM blocks b LEFT JOIN dups d USING (vec_id)
       |  UNION ALL
       |  SELECT vec_id, cluster, true FROM idup)
       |ORDER BY vec_id""".stripMargin
  }

  /** The shared kmeans-replay CTE prefix (quantize → md5 seed order →
    * `rounds` Lloyd updates ending at centroid table c`rounds`) behind
    * [[kmeansOracleSql]] and [[silhouetteOracleSql]]. */
  private def kmeansOracleCtes(k: Int, rounds: Int, dims: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""a$i AS (SELECT vec_id, qv, c, d2 FROM (
         |  SELECT vec_id, qv, c, d2,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |  FROM (SELECT q.vec_id, q.qv, cc.c,
         |          list_sum(list_transform(list_zip(q.qv, cc.cv),
         |            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         |        FROM q CROSS JOIN c${i - 1} cc)) WHERE rn = 1),
         |c$i AS (SELECT p.c, coalesce(u.cv, p.cv) AS cv
         |        FROM c${i - 1} p LEFT JOIN (
         |          SELECT c, list(comp ORDER BY dim) AS cv FROM (
         |            SELECT c, t.dim,
         |              CAST(sum(CAST(qv[t.dim] AS HUGEINT)) // count(*) AS BIGINT) AS comp
         |            FROM a$i CROSS JOIN range(1, ${dims + 1}) t(dim)
         |            GROUP BY c, t.dim) GROUP BY c) u ON u.c = p.c)""".stripMargin
    }.mkString(",\n")
    s"""q AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |      FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT qv,
       |            row_number() OVER (ORDER BY
       |              CAST('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
       |              vec_id) - 1 AS c
       |          FROM q),
       |c0 AS (SELECT c, qv AS cv FROM seeds WHERE c < $k),
       |$roundCtes""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Clustering.kmeansSilhouette]] — the
    * kmeans prefix, then per vector a² = nearest-centroid d² (rn = 1 by
    * (d², c) — the fold's smaller-cluster tie), b² = min d² over the
    * rest (rn ≥ 2), IEEE-sqrt floors, ppm silhouette, per-cluster mean. */
  private def silhouetteOracleSql(k: Int, rounds: Int, dims: Int): String =
    s"""WITH ${kmeansOracleCtes(k, rounds, dims)},
       |d AS (SELECT q.vec_id, cc.c,
       |        list_sum(list_transform(list_zip(q.qv, cc.cv),
       |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
       |      FROM q CROSS JOIN c$rounds cc),
       |r AS (SELECT vec_id, c, d2,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
       |      FROM d),
       |ab AS (SELECT a.vec_id, a.c AS cluster,
       |         CAST(floor(sqrt(CAST(a.d2 AS DOUBLE))) AS BIGINT) AS a,
       |         CAST(floor(sqrt(CAST(b.b2 AS DOUBLE))) AS BIGINT) AS b
       |       FROM (SELECT vec_id, c, d2 FROM r WHERE rn = 1) a
       |       JOIN (SELECT vec_id, min(d2) AS b2 FROM r WHERE rn >= 2 GROUP BY 1) b
       |         USING (vec_id)),
       |sv AS (SELECT cluster,
       |         CASE WHEN greatest(a, b) > 0
       |              THEN ((b - a) * 1000000) // greatest(a, b)
       |              ELSE 0 END AS s
       |       FROM ab)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(sum(CAST(s AS HUGEINT)) // count(*) AS BIGINT) AS mean_s_ppm
       |FROM sv GROUP BY cluster ORDER BY cluster""".stripMargin

  private def kmeansOracleSql(k: Int, rounds: Int, dims: Int,
                              summary: Boolean): String = {
    val fin =
      s"""af AS (SELECT vec_id, c, d2 FROM (
         |  SELECT vec_id, c, d2,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |  FROM (SELECT q.vec_id, cc.c,
         |          list_sum(list_transform(list_zip(q.qv, cc.cv),
         |            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         |        FROM q CROSS JOIN c$rounds cc)) WHERE rn = 1)""".stripMargin
    val select =
      if (summary)
        """SELECT c AS cluster, CAST(count(*) AS BIGINT) AS n_members,
          |       CAST(sum(CAST(d2 AS HUGEINT)) // count(*) AS BIGINT) AS mean_dist2
          |FROM af GROUP BY c ORDER BY cluster""".stripMargin
      else
        // r9: explicit BIGINT cast — `list_sum` over a BIGINT list changed
        // return type across DuckDB versions (HUGEINT vs DOUBLE); an uncast
        // d2 hashes differently driver-side while every comparison (and so
        // the assignment, summary and purity) stays exact. This was the ONE
        // construct unique to emb_kmeans's output among the 239 oracles —
        // the r8 driver gate's single red cell (CORRECTNESS_r08.json).
        "SELECT vec_id, c AS cluster, CAST(d2 AS BIGINT) AS dist2 FROM af ORDER BY vec_id"
    s"""WITH ${kmeansOracleCtes(k, rounds, dims)},
       |$fin
       |$select""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Similarity.mutualNearestIvfExact]] for
    * `emb_mutual_pairs_blocked` — the WHOLE blocked pipeline unrolled,
    * per probing direction: unit-quantize (`(qv_i·10⁶) // floor(√Σqv²)`,
    * zero-norm rows dropped) → md5-h60("ivq:"∥id) spread sample → seeds =
    * first `nLists` of the sample order → `iters` pure-integer Lloyd
    * rounds (d² argmin ties to the smaller cluster id, per-dim `Σ // n`
    * means re-unit-quantized, empty clusters keep the old centroid) →
    * corpus keyed by its 1 nearest list, queries probing `nProbe` →
    * full-precision quantized cosine at the list join → DISTINCT union of
    * both directions → mutual argmax. Every step is the truncating-DIV /
    * IEEE-sqrt arithmetic the other green oracles already pin. */
  private def ivfMutualOracleSql(nLists: Int, nProbe: Int, sampleSize: Int,
                                 iters: Int, dims: Int): String = {
    val h60 = "CAST('0x' || substr(md5('ivq:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
    def d2(v: String, c: String) =
      s"list_sum(list_transform(list_zip($v, $c), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    // one direction: corpus side = parity cp (trains the quantizer), query
    // side = the other parity; d tags the CTE names
    def direction(d: String, cp: Int): String = {
      val qp = 1 - cp
      val rounds = (1 to iters).map { i =>
        s"""a$d$i AS (SELECT rk, uq, c FROM (
           |  SELECT rk, uq, c, row_number() OVER (PARTITION BY rk ORDER BY dd, c) AS rn
           |  FROM (SELECT s.rk, s.uq, cc.c, ${d2("s.uq", "cc.cv")} AS dd
           |        FROM (SELECT * FROM s$d WHERE rk < $sampleSize) s
           |        CROSS JOIN c$d${i - 1} cc)) WHERE rn = 1),
           |m$d$i AS (SELECT c, list(comp ORDER BY dim) AS mv FROM (
           |  SELECT c, t.dim,
           |    CAST(sum(CAST(uq[t.dim] AS HUGEINT)) // count(*) AS BIGINT) AS comp
           |  FROM a$d$i CROSS JOIN range(1, ${dims + 1}) t(dim)
           |  GROUP BY c, t.dim) GROUP BY c),
           |c$d$i AS (SELECT p.c,
           |  coalesce(CASE WHEN u.ms > 0
           |                THEN list_transform(u.mv, x -> (x * 1000000) // u.ms)
           |                ELSE u.mv END, p.cv) AS cv
           |  FROM c$d${i - 1} p LEFT JOIN (
           |    SELECT c, mv, CAST(floor(sqrt(CAST(list_sum(list_transform(mv, x -> x * x)) AS DOUBLE))) AS BIGINT) AS ms
           |    FROM m$d$i) u ON u.c = p.c)""".stripMargin
      }.mkString(",\n")
      s"""s$d AS (SELECT uq, row_number() OVER (ORDER BY $h60, vec_id) - 1 AS rk
         |        FROM uv WHERE vec_id % 2 = $cp),
         |c${d}0 AS (SELECT rk AS c, uq AS cv FROM s$d WHERE rk < $nLists),
         |$rounds,
         |co$d AS (SELECT vec_id AS neighbor_id, qv, lst FROM (
         |  SELECT vec_id, qv, lst, row_number() OVER (PARTITION BY vec_id ORDER BY dd, lst) AS rn
         |  FROM (SELECT v.vec_id, v.qv, cc.c AS lst, ${d2("v.uq", "cc.cv")} AS dd
         |        FROM (SELECT * FROM uv WHERE vec_id % 2 = $cp) v
         |        CROSS JOIN c$d$iters cc)) WHERE rn = 1),
         |qr$d AS (SELECT vec_id AS query_id, qv, lst FROM (
         |  SELECT vec_id, qv, lst, row_number() OVER (PARTITION BY vec_id ORDER BY dd, lst) AS rn
         |  FROM (SELECT v.vec_id, v.qv, cc.c AS lst, ${d2("v.uq", "cc.cv")} AS dd
         |        FROM (SELECT * FROM uv WHERE vec_id % 2 = $qp) v
         |        CROSS JOIN c$d$iters cc)) WHERE rn <= $nProbe),
         |p$d AS (SELECT q.query_id, c.neighbor_id,
         |  CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(q.qv, c.qv), p -> p[1] * p[2])) AS DOUBLE)
         |    / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
         |     * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
         |  FROM qr$d q JOIN co$d c USING (lst))""".stripMargin
    }
    s"""WITH base AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |uv AS (SELECT vec_id, qv, list_transform(qv, x -> (x * 1000000) // s) AS uq
       |       FROM (SELECT vec_id, qv,
       |               CAST(floor(sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))) AS BIGINT) AS s
       |             FROM base) WHERE s > 0),
       |${direction("f", 1)},
       |${direction("r", 0)},
       |u AS (SELECT DISTINCT ia, ib, cos_scaled FROM (
       |  SELECT query_id AS ia, neighbor_id AS ib, cos_scaled FROM pf
       |  UNION ALL
       |  SELECT neighbor_id AS ia, query_id AS ib, cos_scaled FROM pr)),
       |ab AS (SELECT ia, ib, cos_scaled,
       |         row_number() OVER (PARTITION BY ia ORDER BY cos_scaled DESC, ib) AS r FROM u),
       |ba AS (SELECT ia, ib,
       |         row_number() OVER (PARTITION BY ib ORDER BY cos_scaled DESC, ia) AS r FROM u)
       |SELECT ab.ia AS id_a, ab.ib AS id_b, ab.cos_scaled
       |FROM ab JOIN ba ON ab.ia = ba.ia AND ab.ib = ba.ib AND ab.r = 1 AND ba.r = 1
       |ORDER BY id_a""".stripMargin
  }

  /** DuckDB replay of [[pipeline.Search.rboPrefix]] for `search_rbo`:
    * the same integer weight table W(m) = Σ_{k=m..d} (lcm/k)·2^(d−k),
    * generated by the same arithmetic. */
  private def rboOracleSql: String = {
    val d = 10
    val lcm = (1 to d).foldLeft(1L) { (acc, k) =>
      @annotation.tailrec def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      acc / gcd(acc, k) * k
    }
    val w = (1 to d).map(m => (m to d).map(k => (lcm / k) << (d - k)).sum)
    val full = lcm * ((1L << d) - 1)
    s"""WITH ap AS (SELECT c_mktsegment, o_orderkey AS doc_id,
       |              row_number() OVER (PARTITION BY c_mktsegment
       |                ORDER BY o_totalprice DESC, o_orderkey) AS ra
       |            FROM orders JOIN customer ON o_custkey = c_custkey),
       |bp AS (SELECT c_mktsegment, o_orderkey AS doc_id,
       |         row_number() OVER (PARTITION BY c_mktsegment
       |           ORDER BY o_orderdate DESC, o_orderkey) AS rb
       |       FROM orders JOIN customer ON o_custkey = c_custkey),
       |j AS (SELECT a.c_mktsegment,
       |        [${w.mkString(", ")}][CAST(greatest(a.ra, b.rb) AS INT)] AS wt
       |      FROM (SELECT * FROM ap WHERE ra <= $d) a
       |      JOIN (SELECT * FROM bp WHERE rb <= $d) b
       |        ON a.c_mktsegment = b.c_mktsegment AND a.doc_id = b.doc_id),
       |g AS (SELECT c_mktsegment, count(*) AS shared_docs,
       |        (sum(wt) * 1000000) // $full AS rbo_ppm FROM j GROUP BY 1),
       |q AS (SELECT DISTINCT c_mktsegment
       |      FROM orders JOIN customer ON o_custkey = c_custkey)
       |SELECT q.c_mktsegment,
       |       CAST(coalesce(g.shared_docs, 0) AS BIGINT) AS shared_docs,
       |       CAST(coalesce(g.rbo_ppm, 0) AS BIGINT) AS rbo_ppm
       |FROM q LEFT JOIN g USING (c_mktsegment) ORDER BY c_mktsegment""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "rel_zorder_key" -> zOrderOracleSql,
    "multimodal_sharpness" -> sobelOracleSql,
    "text_nb_classify" -> nbOracleSql,
    "text_nb_eval" ->
      s"""WITH scored AS ($nbOracleSql),
              t1 AS (SELECT actual AS cls, CAST(count(*) AS BIGINT) AS n_actual,
                       CAST(sum(CASE WHEN predicted = actual THEN 1 ELSE 0 END) AS BIGINT) AS tp
                     FROM scored GROUP BY 1),
              t2 AS (SELECT predicted AS cls, CAST(count(*) AS BIGINT) AS np
                     FROM scored WHERE predicted IS NOT NULL GROUP BY 1)
         SELECT t1.cls, t1.n_actual,
                CAST(coalesce(t2.np, 0) AS BIGINT) AS n_predicted, t1.tp,
                CASE WHEN coalesce(t2.np, 0) > 0
                     THEN CAST((t1.tp * 1000000) // t2.np AS BIGINT) END AS precision_ppm,
                CAST((t1.tp * 1000000) // t1.n_actual AS BIGINT) AS recall_ppm,
                CAST((2 * t1.tp * 1000000) // (t1.n_actual + coalesce(t2.np, 0)) AS BIGINT) AS f1_ppm
         FROM t1 LEFT JOIN t2 USING (cls) ORDER BY t1.cls""",
    "dedup_group_sizes" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') t FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 1, 2)), i -> t[i:i+2])) sh FROM n),
         e AS (SELECT a.doc_id a, b.doc_id b FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
               WHERE len(list_intersect(a.sh, b.sh)) * 100 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 55),
         ud AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.id, ud.b FROM reach JOIN ud ON ud.a = reach.r
         ),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id),
         sz AS (SELECT group_id, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY 1)
         SELECT CAST(length(printf('%b', sz)) AS INT) AS size_bucket,
                CAST(count(*) AS BIGINT) AS n_groups,
                CAST(sum(sz) AS BIGINT) AS n_docs
         FROM sz GROUP BY 1 ORDER BY size_bucket""",
    "events_survival" -> kaplanMeierOracleSql,
    "rel_welch_t" -> welchTOracleSql,
    "events_ab_conversion" ->
      """WITH u AS (SELECT user_id,
                      CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted,
                      CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS cohort
                    FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
              m AS (SELECT
                      CAST(sum(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                      CAST(sum(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                      CAST(sum(CASE WHEN cohort = 'a' THEN converted ELSE 0 END) AS BIGINT) AS xa,
                      CAST(sum(CASE WHEN cohort = 'b' THEN converted ELSE 0 END) AS BIGINT) AS xb
                    FROM u)
         SELECT na AS n_a, xa AS x_a, nb AS n_b, xb AS x_b,
                CASE WHEN na > 0 THEN CAST(CAST(xa AS HUGEINT) * 1000000 // na AS BIGINT) END AS rate_a_ppm,
                CASE WHEN nb > 0 THEN CAST(CAST(xb AS HUGEINT) * 1000000 // nb AS BIGINT) END AS rate_b_ppm,
                CASE WHEN na > 0 AND nb > 0 AND (xa + xb) > 0 AND (na + nb - xa - xb) > 0
                     THEN CAST(floor(
                       (CAST(xa AS DOUBLE) * CAST(nb AS DOUBLE) - CAST(xb AS DOUBLE) * CAST(na AS DOUBLE))
                       * (CAST(xa AS DOUBLE) * CAST(nb AS DOUBLE) - CAST(xb AS DOUBLE) * CAST(na AS DOUBLE))
                       * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                       / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * (CAST(xa AS DOUBLE) + CAST(xb AS DOUBLE)) * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - CAST(xa AS DOUBLE) - CAST(xb AS DOUBLE)))
                       * 1000000.0) AS BIGINT) END AS z2_ppm
         FROM m WHERE na > 0 OR nb > 0""",
    "events_survival_ab" ->
      """WITH m AS (SELECT max(ts) AS d1 FROM events),
              u AS (SELECT user_id, min(ts) AS f, max(ts) AS l
                    FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
              subj AS (SELECT user_id % 2 AS g,
                         CAST(date_diff('second', f, l) // 3600 AS BIGINT) AS t,
                         CASE WHEN l < (SELECT d1 FROM m) - INTERVAL 24 HOURS
                              THEN 1 ELSE 0 END AS ev FROM u),
              c AS (SELECT g, t, CAST(sum(ev) AS BIGINT) AS d,
                      CAST(sum(1 - ev) AS BIGINT) AS cns FROM subj GROUP BY 1, 2),
              grid AS (SELECT tt.t, gg.g, coalesce(c.d, 0) AS d, coalesce(c.cns, 0) AS cns
                       FROM (SELECT DISTINCT t FROM c) tt
                       CROSS JOIN (SELECT DISTINCT g FROM c) gg
                       LEFT JOIN c ON c.t = tt.t AND c.g = gg.g),
              totg AS (SELECT g, CAST(count(*) AS BIGINT) AS ng FROM subj GROUP BY 1),
              ar AS (SELECT grid.g, grid.t, grid.d, grid.cns, totg.ng,
                       CAST(totg.ng - coalesce(sum(grid.d + grid.cns) OVER (
                         PARTITION BY grid.g ORDER BY grid.t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nat
                     FROM grid JOIN totg ON totg.g = grid.g),
              pooled AS (SELECT t, CAST(sum(d) AS BIGINT) AS dt,
                           CAST(sum(nat) AS BIGINT) AS nt FROM ar GROUP BY 1),
              term AS (SELECT ar.g, ar.ng, ar.d,
                         CASE WHEN p.nt > 0 AND p.dt > 0
                              THEN (CAST(p.dt AS HUGEINT) * ar.nat * 1000000) // p.nt
                              ELSE 0 END AS e
                       FROM ar JOIN pooled p ON p.t = ar.t),
              agg AS (SELECT g AS cohort, max(ng) AS n_subjects,
                        CAST(sum(d) AS BIGINT) AS o_events,
                        CAST(sum(e) AS BIGINT) AS e_events_ppm
                      FROM term GROUP BY 1)
         SELECT cohort, n_subjects, o_events, e_events_ppm,
                o_events * 1000000 - e_events_ppm AS o_minus_e_ppm
         FROM agg ORDER BY cohort""",
    "emb_dim_audit" ->
      """WITH q AS (SELECT list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                    FROM embeddings WHERE embedding IS NOT NULL),
              e AS (SELECT t.i - 1 AS dim, qv[t.i] AS v
                    FROM q CROSS JOIN range(1, 65) t(i))
         SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
                min(v) AS q_min, max(v) AS q_max,
                CAST(sum(CAST(v AS HUGEINT)) // count(*) AS BIGINT) AS q_mean,
                CAST((count(*) * sum(CAST(v AS HUGEINT) * v) - sum(CAST(v AS HUGEINT)) * sum(CAST(v AS HUGEINT)))
                     // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT) AS q_var,
                CAST(CASE WHEN min(v) = max(v) THEN 1 ELSE 0 END AS BIGINT) AS dead
         FROM e GROUP BY dim ORDER BY dim""",
    "text_mojibake" ->
      ("""WITH t AS (SELECT doc_id, coalesce(text, '') ||
                      CASE WHEN doc_id % 5 = 0 THEN ' cafÃ© �'
                           WHEN doc_id % 5 = 1 THEN ' xâ€'
                           ELSE '' END AS tx FROM documents)
         SELECT doc_id,
                CAST(length(tx) - length(regexp_replace(tx, '[\x{FFFD}]', '', 'g')) AS BIGINT) AS n_replacement,
                CAST(length(tx) - length(regexp_replace(tx, '[\x{0080}-\x{009F}]', '', 'g')) AS BIGINT) AS n_c1,
                CAST((length(tx) - length(regexp_replace(tx, '""" + "[\\x{00C2}\\x{00C3}\\x{00E2}][\\x{0080}-\\x{00BF}\\x{20AC}\\x{2122}\\x{201A}\\x{2019}\\x{2018}\\x{201C}\\x{201D}]" + """', '', 'g'))) // 2 AS BIGINT) AS n_mojibake_pairs,
                CAST(CASE WHEN (length(tx) - length(regexp_replace(tx, '[\x{FFFD}\x{0080}-\x{009F}]', '', 'g'))) > 0
                            OR (length(tx) - length(regexp_replace(tx, '""" + "[\\x{00C2}\\x{00C3}\\x{00E2}][\\x{0080}-\\x{00BF}\\x{20AC}\\x{2122}\\x{201A}\\x{2019}\\x{2018}\\x{201C}\\x{201D}]" + """', '', 'g'))) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS damaged
         FROM t ORDER BY doc_id"""),
    "emb_kmeans" -> kmeansOracleSql(8, 3, 64, summary = false),
    "emb_silhouette" -> silhouetteOracleSql(8, 3, 64),
    "emb_quantize" ->
      """WITH q AS (SELECT t.dim AS dim,
                      CAST(floor(CAST(embedding[t.dim] AS DOUBLE) * 1000000) AS BIGINT) AS q
                    FROM embeddings CROSS JOIN range(1, 65) t(dim)
                    WHERE embedding IS NOT NULL),
              s AS (SELECT dim, max(abs(q)) AS scale FROM q GROUP BY 1),
              e AS (SELECT q.dim, s.scale,
                      CASE WHEN s.scale = 0 THEN 0
                           ELSE abs((((q.q * 127) // s.scale) * s.scale) // 127 - q.q)
                      END AS err
                    FROM q JOIN s USING (dim))
         SELECT CAST(dim AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
                CAST(scale AS BIGINT) AS scale, CAST(max(err) AS BIGINT) AS max_err,
                CAST(sum(err) // count(*) AS BIGINT) AS mean_err
         FROM e GROUP BY dim, scale ORDER BY dim""",
    "emb_coreset" -> kCenterOracleSql(8),
    "emb_kmeans_purity" -> (
      s"""WITH asg AS (${kmeansOracleSql(8, 3, 64, summary = false)}),
         |l AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |cl AS (SELECT cluster, label, CAST(count(*) AS BIGINT) AS n
         |       FROM asg JOIN l USING (vec_id) GROUP BY 1, 2),
         |best AS (SELECT cluster, label, n,
         |           row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn,
         |           CAST(sum(n) OVER (PARTITION BY cluster) AS BIGINT) AS nm
         |         FROM cl)
         |SELECT cluster, nm AS n_members, label AS majority_label, n AS n_majority,
         |       CAST((n * 1000000) // nm AS BIGINT) AS purity_ppm
         |FROM best WHERE rn = 1 ORDER BY cluster""".stripMargin),
    "emb_kmeans_summary" -> kmeansOracleSql(8, 3, 64, summary = true),
    "emb_mutual_pairs_blocked" -> ivfMutualOracleSql(16, 4, 10000, 3, 64),
    "search_rbo" -> rboOracleSql,
    "src_csv_roundtrip" ->
      """SELECT tricky, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM read_csv('/tmp/graft_csv_gate/*.csv.gz', header = true,
                       columns = {doc_id: 'BIGINT', tricky: 'VARCHAR', n_chars: 'BIGINT'})
         GROUP BY tricky ORDER BY tricky""",
    "pipeline_crawl_chain2" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 29 NOT IN (0, 3)
                  AND NOT (starts_with(CAST(doc_id AS VARCHAR), '4')
                           AND NOT starts_with(CAST(doc_id AS VARCHAR), '44'))),
            h AS (SELECT doc_id,
                '<html><head><script>var v=' || CAST(doc_id AS VARCHAR)
                  || ';</script></head><body><p>' || text
                  || '</p>&nbsp;tail</body></html>' AS t
              FROM base),
            c AS (SELECT doc_id, trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(
                    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                      '(?s)<!--.*?-->', ' ', 'g'),
                      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                      '<[^>]+>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                    '&nbsp;', ' '), '&amp;', '&'),
                  '[ \t\n\r\f]+', ' ', 'g')) AS clean
              FROM h),
            w AS (SELECT doc_id, clean,
                list_filter(regexp_split_to_array(lower(clean), '\s+'),
                  x -> len(x) > 0) AS ws
              FROM c),
            lw AS (SELECT doc_id, clean, len(ws) AS n_words,
                list_distinct(ws) AS du FROM w),
            sc AS (SELECT doc_id, clean, n_words,
                len(list_intersect(du, ['the','and','of','to','a','in','is','that','it','for'])) en,
                len(list_intersect(du, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
                len(list_intersect(du, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
                len(list_intersect(du, ['el','la','los','y','es','un','una','para','en','que'])) es
              FROM lw)
         SELECT doc_id, clean, CAST(n_words AS BIGINT) AS n_words,
                CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                     WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                     WHEN fr >= es AND fr > 0 THEN 'fr'
                     WHEN es > 0 THEN 'es'
                     ELSE 'und' END AS lang
         FROM sc WHERE n_words >= 3 ORDER BY doc_id""",
    "pipeline_crawl_chain" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 29 NOT IN (0, 3)),
            h AS (SELECT doc_id,
                '<html><head><script>var v=' || CAST(doc_id AS VARCHAR)
                  || ';</script></head><body><p>' || text
                  || '</p>&nbsp;tail</body></html>' AS t
              FROM base),
            c AS (SELECT doc_id, trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(
                    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                      '(?s)<!--.*?-->', ' ', 'g'),
                      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                      '<[^>]+>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                    '&nbsp;', ' '), '&amp;', '&'),
                  '[ \t\n\r\f]+', ' ', 'g')) AS clean
              FROM h),
            w AS (SELECT doc_id, clean,
                list_filter(regexp_split_to_array(lower(clean), '\s+'),
                  x -> len(x) > 0) AS ws
              FROM c),
            lw AS (SELECT doc_id, clean, len(ws) AS n_words,
                list_distinct(ws) AS du FROM w),
            sc AS (SELECT doc_id, clean, n_words,
                len(list_intersect(du, ['the','and','of','to','a','in','is','that','it','for'])) en,
                len(list_intersect(du, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
                len(list_intersect(du, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
                len(list_intersect(du, ['el','la','los','y','es','un','una','para','en','que'])) es
              FROM lw)
         SELECT doc_id, clean, CAST(n_words AS BIGINT) AS n_words,
                CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                     WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                     WHEN fr >= es AND fr > 0 THEN 'fr'
                     WHEN es > 0 THEN 'es'
                     ELSE 'und' END AS lang
         FROM sc WHERE n_words >= 3 ORDER BY doc_id""",
    "pipeline_sitemap_urls" ->
      """WITH base AS (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0),
            u AS (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS k
                FROM base WHERE doc_id % 37 <> 11),
            keep AS (SELECT doc_id, k FROM u
                WHERE doc_id % 37 <> 5 OR k < doc_id % 3),
            urls AS (SELECT doc_id, 'url' AS kind,
                'https://example.com/page/' || doc_id || '/' || k
                  || '?k=' || k || '&v=' || doc_id AS loc,
                '2026-01-' || lpad(CAST(1 + (doc_id + k) % 28 AS VARCHAR), 2, '0') AS lastmod,
                (['daily','weekly','monthly'])[CAST((doc_id + k) % 3 AS INT) + 1] AS changefreq,
                CAST(((doc_id + k) % 11) * 100 AS INT) AS priority_milli
              FROM keep),
            idx AS (SELECT doc_id, 'sitemap' AS kind,
                'https://example.com/sitemap_' || doc_id || '_' || s || '.xml' AS loc,
                CASE WHEN s = 'a' THEN '2026-01-01' ELSE '2026-01-02' END AS lastmod,
                CAST(NULL AS VARCHAR) AS changefreq,
                CAST(NULL AS INT) AS priority_milli
              FROM base CROSS JOIN (SELECT 'a' AS s UNION ALL SELECT 'b') sh
              WHERE doc_id % 37 = 11)
         SELECT doc_id, kind, loc, lastmod, changefreq, priority_milli
         FROM (SELECT * FROM urls UNION ALL SELECT * FROM idx)
         ORDER BY doc_id, loc""",
    "pipeline_sitemap_frontier" ->
      """WITH base AS (SELECT doc_id FROM documents
                WHERE doc_id % 37 NOT IN (0, 11)),
            u AS (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS k
                FROM base),
            keep AS (SELECT doc_id, k FROM u
                WHERE doc_id % 37 <> 5 OR k < doc_id % 3),
            f AS (SELECT doc_id,
                'https://example.com/page/' || doc_id || '/' || k
                  || '?k=' || k || '&v=' || doc_id AS loc,
                '/page/' || doc_id || '/' || k AS path
              FROM keep)
         SELECT doc_id, loc,
                (NOT starts_with(path, '/page/4')
                 OR starts_with(path, '/page/44')) AS allowed
         FROM f ORDER BY doc_id, loc""",
    "pipeline_feed_items" ->
      """WITH base AS (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0),
            u AS (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS k
                FROM base),
            keep AS (SELECT doc_id, k FROM u
                WHERE doc_id % 37 <> 5 OR k < doc_id % 3)
         SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
                'Post ' || doc_id || '/' || k || ' A&B' AS title,
                'https://example.com/post/' || doc_id || '/' || k AS link,
                '2026-01-' || lpad(CAST(1 + (doc_id + k) % 28 AS VARCHAR), 2, '0')
                  || 'T00:00:00Z' AS published,
                'tag:example.com:' || doc_id || ':' || k AS guid
         FROM keep ORDER BY doc_id, guid""",
    "pipeline_fetch_schedule" ->
      """WITH base AS (SELECT doc_id FROM documents
                WHERE doc_id % 37 NOT IN (0, 11)),
            u AS (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS k
                FROM base),
            keep AS (SELECT doc_id, k FROM u
                WHERE doc_id % 37 <> 5 OR k < doc_id % 3),
            f AS (SELECT doc_id, k,
                'https://example.com/page/' || doc_id || '/' || k
                  || '?k=' || k || '&v=' || doc_id AS loc,
                CAST(((doc_id + k) % 11) * 100 AS INT) AS priority_milli,
                '/page/' || doc_id || '/' || k AS path
              FROM keep),
            a AS (SELECT * FROM f
              WHERE NOT starts_with(path, '/page/4')
                 OR starts_with(path, '/page/44')),
            d AS (SELECT doc_id,
                CASE WHEN doc_id % 37 = 5 THEN 1000
                     WHEN doc_id % 3 = 0 THEN (doc_id % 5) * 1000 + 500
                     ELSE (doc_id % 7) * 1000 END AS delay_ms
              FROM base),
            r AS (SELECT a.doc_id, a.loc, a.priority_milli, d.delay_ms,
                row_number() OVER (PARTITION BY a.doc_id
                  ORDER BY a.priority_milli DESC, a.loc) AS rk
              FROM a JOIN d ON a.doc_id = d.doc_id)
         SELECT doc_id, loc, priority_milli,
                CAST((rk - 1) * delay_ms AS BIGINT) AS fetch_offset_ms
         FROM r ORDER BY doc_id, fetch_offset_ms, loc""",
    "pipeline_http_charset" ->
      """WITH base AS (SELECT doc_id, doc_id % 6 AS r FROM documents
                WHERE doc_id % 37 <> 0)
         SELECT doc_id,
                CASE WHEN r IN (0, 3, 5) THEN 'utf-8'
                     ELSE 'windows-1252' END AS charset,
                CASE WHEN r IN (0, 1, 2) THEN 'header'
                     WHEN r = 3 THEN 'meta'
                     WHEN r = 5 THEN 'bom'
                     ELSE 'default' END AS charset_source,
                CASE r
                  WHEN 0 THEN 'Café № δοκιμή 😀 ' || doc_id
                  WHEN 1 THEN 'Café œuvre €99 – dash ' || doc_id
                  WHEN 2 THEN 'Alias € äöü ' || doc_id
                  WHEN 3 THEN '<meta charset="utf-8"><p>Mütze δ ' || doc_id || '</p>'
                  WHEN 4 THEN 'Plain fallback ± ' || doc_id
                  ELSE 'Bom ✓ ' || doc_id END AS text
         FROM base ORDER BY doc_id""",
    "pipeline_robots_directives" ->
      """SELECT doc_id,
                CAST(CASE WHEN doc_id % 37 IN (0, 5) THEN NULL
                     WHEN doc_id % 3 = 0 THEN (doc_id % 5) * 1000 + 500
                     ELSE (doc_id % 7) * 1000 END AS INT) AS crawl_delay_ms,
                CASE WHEN doc_id % 37 = 0 THEN ''
                     ELSE 'https://example.com/sm_' || doc_id || '_1.xml' ||
                          CASE WHEN doc_id % 2 = 1
                               THEN ',https://example.com/sm_' || doc_id || '_2.xml'
                               ELSE '' END END AS sitemaps_csv
         FROM documents ORDER BY doc_id""",
    "pipeline_http_decode" ->
      """WITH base AS (SELECT doc_id, text, doc_id % 4 AS enc,
                       (length(text) + 99) // 100 AS nch
                FROM documents WHERE doc_id % 37 <> 0),
            f AS (SELECT doc_id, text, enc, nch,
                    enc IN (1, 3) AS chunked,
                    enc IN (2, 3) AS gz,
                    (doc_id % 37 = 5 AND enc IN (1, 3)) AS torn,
                    (doc_id % 37 = 11 AND enc IN (2, 3)) AS rot
                FROM base)
         SELECT doc_id, CAST(200 AS INT) AS status,
                chunked AS was_chunked, gz AS was_gzip,
                CAST(CASE WHEN NOT chunked THEN NULL
                     WHEN enc = 1 THEN nch - CASE WHEN torn THEN 1 ELSE 0 END
                     ELSE 4 - CASE WHEN torn THEN 1 ELSE 0 END
                     END AS INT) AS n_chunks,
                (torn OR rot) AS truncated,
                CASE WHEN rot THEN NULL
                     WHEN torn AND gz THEN NULL
                     WHEN torn THEN substring(text, 1, CAST(100 * (nch - 1) AS INT))
                     ELSE text END AS body_text
         FROM f ORDER BY doc_id""",
    "pipeline_crawl_chain_pdf" ->
      """WITH hb AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 29 NOT IN (0, 3, 7)),
            h AS (SELECT doc_id,
                '<html><head><script>var v=' || CAST(doc_id AS VARCHAR)
                  || ';</script></head><body><p>' || text
                  || '</p>&nbsp;tail</body></html>' AS t
              FROM hb),
            c AS (SELECT doc_id, 'html' AS route, trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(
                    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                      '(?s)<!--.*?-->', ' ', 'g'),
                      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                      '<[^>]+>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                    '&nbsp;', ' '), '&amp;', '&'),
                  '[ \t\n\r\f]+', ' ', 'g')) AS clean
              FROM h),
            pd AS (SELECT doc_id, 'pdf' AS route, text AS clean
              FROM documents WHERE doc_id % 29 = 3),
            u AS (SELECT * FROM c UNION ALL SELECT * FROM pd),
            w AS (SELECT doc_id, route, clean,
                list_filter(regexp_split_to_array(lower(clean), '\s+'),
                  x -> len(x) > 0) AS ws
              FROM u),
            lw AS (SELECT doc_id, route, clean, len(ws) AS n_words,
                list_distinct(ws) AS du FROM w),
            sc AS (SELECT doc_id, route, clean, n_words,
                len(list_intersect(du, ['the','and','of','to','a','in','is','that','it','for'])) en,
                len(list_intersect(du, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
                len(list_intersect(du, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
                len(list_intersect(du, ['el','la','los','y','es','un','una','para','en','que'])) es
              FROM lw)
         SELECT doc_id, route, clean, CAST(n_words AS BIGINT) AS n_words,
                CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                     WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                     WHEN fr >= es AND fr > 0 THEN 'fr'
                     WHEN es > 0 THEN 'es'
                     ELSE 'und' END AS lang
         FROM sc WHERE n_words >= 3 ORDER BY doc_id""",
    "src_warc_records" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
            resp AS (SELECT doc_id, 'response' AS warc_type,
                     'https://example.com/doc/' || doc_id AS target_uri,
                     'text/plain' AS content_type,
                     CAST(strlen(text) AS BIGINT) AS content_length,
                     text AS payload_text
                FROM base
                WHERE doc_id % 37 <> 0
                  AND NOT (doc_id % 37 = 5 AND doc_id % 2 = 0)),
            meta AS (SELECT doc_id, 'metadata' AS warc_type,
                     'https://example.com/doc/' || doc_id AS target_uri,
                     'text/plain' AS content_type,
                     CAST(strlen('fetch=' || doc_id) AS BIGINT) AS content_length,
                     'fetch=' || doc_id AS payload_text
                FROM base
                WHERE doc_id % 2 = 1 AND doc_id % 37 NOT IN (0, 5))
         SELECT * FROM (SELECT * FROM resp UNION ALL SELECT * FROM meta)
         ORDER BY doc_id, warc_type""",
    "src_warc_scan" ->
      """WITH base AS (SELECT doc_id, strlen(text) AS t,
                       strlen('fetch=' || doc_id) AS m
                FROM documents),
            f AS (SELECT doc_id, t, m,
                    CASE WHEN doc_id % 37 <> 0 AND t <= 512
                              AND NOT (doc_id % 37 = 5 AND doc_id % 2 = 0)
                         THEN 1 ELSE 0 END AS resp_ok,
                    CASE WHEN doc_id % 2 = 1 AND doc_id % 37 NOT IN (0, 5)
                         THEN 1 ELSE 0 END AS meta_ok,
                    CASE WHEN doc_id % 37 <> 0 AND t > 512
                         THEN 1 ELSE 0 END AS dropped
                FROM base)
         SELECT doc_id,
                CAST(resp_ok + meta_ok AS BIGINT) AS n_records,
                CAST(dropped AS BIGINT) AS n_dropped,
                CAST(resp_ok * t + meta_ok * m AS BIGINT) AS payload_bytes
         FROM f ORDER BY doc_id""",
    "text_blocklist_hits" ->
      """WITH pats AS (SELECT unnest(['a','able','fast','scan scan','st',
                                      'tab','table','value']) AS pattern),
            hit AS (SELECT d.doc_id, p.pattern,
                      len(list_filter(
                        range(1, strlen(d.text) - strlen(p.pattern) + 2),
                        i -> substr(d.text, CAST(i AS INT),
                                    strlen(p.pattern)) = p.pattern)) AS n
                FROM documents d CROSS JOIN pats p
                WHERE strlen(d.text) >= strlen(p.pattern))
         SELECT doc_id, pattern, CAST(n AS BIGINT) AS n
         FROM hit WHERE n > 0 ORDER BY doc_id, pattern""",
    "src_tar_roundtrip" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 37 <> 0),
            d AS (SELECT doc_id, 'doc_' || doc_id || '.txt' AS name,
                    CAST(strlen(text) AS BIGINT) AS size,
                    text AS content_text
                FROM base),
            m AS (SELECT doc_id, 'meta_' || doc_id || '.txt' AS name,
                    CAST(strlen('id=' || doc_id) AS BIGINT) AS size,
                    'id=' || doc_id AS content_text
                FROM base WHERE doc_id % 37 <> 5)
         SELECT doc_id, name, size, content_text
         FROM (SELECT * FROM d UNION ALL SELECT * FROM m)
         ORDER BY doc_id, name""",
    "src_zip_roundtrip" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 37 NOT IN (0, 5)),
            d AS (SELECT doc_id, 'doc_' || doc_id || '.txt' AS name,
                    CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 8 END AS method,
                    CAST(strlen(text) AS BIGINT) AS uncompressed_size,
                    text AS content_text
                FROM base),
            m AS (SELECT doc_id, 'meta_' || doc_id || '.txt' AS name,
                    0 AS method,
                    CAST(strlen('id=' || doc_id) AS BIGINT) AS uncompressed_size,
                    'id=' || doc_id AS content_text
                FROM base)
         SELECT doc_id, name, CAST(method AS INT) AS method,
                uncompressed_size, content_text
         FROM (SELECT * FROM d UNION ALL SELECT * FROM m)
         ORDER BY doc_id, name""",
    "multimodal_pdf_info" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 37 <> 0),
            s AS (SELECT doc_id,
                    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
                FROM base),
            p AS (SELECT doc_id, (n_lines + 11) // 12 AS np FROM s)
         SELECT doc_id,
                CAST(CASE WHEN doc_id % 37 = 5 THEN 1 ELSE np END AS INT) AS n_pages,
                (doc_id % 37 = 17) AS encrypted,
                CASE WHEN doc_id % 37 IN (5, 17) THEN NULL
                     ELSE 'Doc ' || doc_id || ' ü' END AS title,
                CASE WHEN doc_id % 37 IN (5, 17) THEN NULL
                     ELSE 'Author ' || (doc_id % 7) END AS author,
                CASE WHEN doc_id % 37 IN (5, 17) THEN NULL
                     ELSE 'graft 1.0' END AS producer,
                CASE WHEN doc_id % 37 IN (5, 17) THEN NULL
                     ELSE 'D:202601' ||
                          lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                          || '000000Z' END AS created
         FROM p ORDER BY doc_id""",
    "src_pdf_objstm" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 37 <> 0),
            s AS (SELECT doc_id, text,
                    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
                FROM base),
            p AS (SELECT doc_id, text, (n_lines + 11) // 12 AS np FROM s)
         SELECT doc_id,
                CAST(CASE WHEN doc_id % 37 = 5 THEN 0
                     ELSE 4 + 2 * np END AS INT) AS n_objects,
                CAST(CASE WHEN doc_id % 37 = 5 THEN 0 ELSE np END AS INT) AS n_pages,
                CAST(CASE WHEN doc_id % 37 = 5 THEN 0
                     ELSE 1 + np END AS INT) AS n_streams,
                CASE WHEN doc_id % 37 = 5 THEN NULL ELSE text END AS text
         FROM p ORDER BY doc_id""",
    "src_pdf_text" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 37 <> 0),
            s AS (SELECT doc_id, text,
                    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
                FROM base),
            p AS (SELECT doc_id, text, (n_lines + 11) // 12 AS np FROM s)
         SELECT doc_id,
                CAST(CASE WHEN doc_id % 37 = 5 THEN 4
                     ELSE 3 + 2 * np +
                          CASE WHEN doc_id % 37 = 17 THEN 1 ELSE 0 END
                     END AS INT) AS n_objects,
                CAST(CASE WHEN doc_id % 37 = 5 THEN 1 ELSE np END AS INT) AS n_pages,
                CAST(CASE WHEN doc_id % 37 = 5 THEN 0 ELSE np END AS INT) AS n_streams,
                (doc_id % 37 = 17) AS encrypted,
                CASE WHEN doc_id % 37 IN (5, 17) THEN NULL ELSE text END AS text
         FROM p ORDER BY doc_id""",
    "src_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM read_json('/tmp/graft_jsonl_gate/*.json.gz',
                        format = 'newline_delimited',
                        columns = {doc_id: 'BIGINT', lang: 'VARCHAR', n_chars: 'BIGINT'})
         GROUP BY lang ORDER BY lang""",
    "text_vocab_growth" ->
      """WITH m AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
              p AS (SELECT lo, (hi - lo + 1) // 10 +
                      CASE WHEN (hi - lo + 1) % 10 = 0 THEN 0 ELSE 1 END AS w FROM m),
              tok AS (SELECT CAST(least(9, (doc_id - (SELECT lo FROM p))
                               // (SELECT w FROM p)) AS INT) AS b,
                             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> len(x) > 0)) AS t
                      FROM documents),
              fs AS (SELECT t, min(b) AS bucket FROM tok GROUP BY 1),
              nb AS (SELECT bucket, count(*) AS new_tokens FROM fs GROUP BY 1),
              sp AS (SELECT CAST(unnest(range(10)) AS INT) AS bucket),
              j AS (SELECT sp.bucket, CAST(coalesce(nb.new_tokens, 0) AS BIGINT) AS new_tokens
                    FROM sp LEFT JOIN nb ON nb.bucket = sp.bucket)
         SELECT bucket, new_tokens,
                CAST(sum(new_tokens) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
         FROM j ORDER BY bucket""",
    "pipeline_expectations" ->
      """WITH c AS (SELECT
             CASE WHEN l_orderkey % 97 = 0 THEN -l_quantity ELSE l_quantity END AS qty,
             l_extendedprice AS price,
             CASE WHEN l_orderkey % 101 = 0 THEN NULL ELSE l_discount END AS disc,
             l_returnflag AS flag
           FROM lineitem),
         r AS (
           SELECT 'qty_in_range' AS rule,
                  CAST(sum(CASE WHEN coalesce(qty >= 1 AND qty <= 50, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS violations,
                  count(*) AS total FROM c
           UNION ALL
           SELECT 'price_positive',
                  CAST(sum(CASE WHEN coalesce(price > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT),
                  count(*) FROM c
           UNION ALL
           SELECT 'discount_known',
                  CAST(sum(CASE WHEN coalesce(disc >= 0 AND disc <= 0.1, FALSE) THEN 0 ELSE 1 END) AS BIGINT),
                  count(*) FROM c
           UNION ALL
           SELECT 'flag_known',
                  CAST(sum(CASE WHEN coalesce(flag IN ('A', 'N', 'R'), FALSE) THEN 0 ELSE 1 END) AS BIGINT),
                  count(*) FROM c)
         SELECT rule, violations, total FROM r ORDER BY rule""",
    "pipeline_unique_audit" ->
      """WITH g AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
         SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS dup_rows,
                CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT) AS dup_keys,
                CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM g""",
    "rel_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id,
                CASE
                  WHEN fb.event_id IS NULL THEN ff.event_id
                  WHEN ff.event_id IS NULL THEN fb.event_id
                  WHEN (ff.ts - p.ts) < (p.ts - fb.ts) THEN ff.event_id
                  ELSE fb.event_id
                END AS event_id_asof
         FROM p
         LEFT JOIN LATERAL (
           SELECT v.event_id, v.ts FROM events v
           WHERE v.user_id = p.user_id AND v.event_type = 'view'
             AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 2 HOUR
           ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) fb ON TRUE
         LEFT JOIN LATERAL (
           SELECT v.event_id, v.ts FROM events v
           WHERE v.user_id = p.user_id AND v.event_type = 'view'
             AND v.ts > p.ts AND v.ts <= p.ts + INTERVAL 2 HOUR
           ORDER BY v.ts ASC, v.event_id ASC LIMIT 1) ff ON TRUE
         ORDER BY p.event_id""",
    "rel_asof_tolerance" ->
      """SELECT e.event_id, e.user_id,
                (SELECT v.event_id FROM events v
                 WHERE v.user_id = e.user_id AND v.event_type = 'view'
                   AND v.ts <= e.ts AND v.ts >= e.ts - INTERVAL 30 MINUTE
                 ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS event_id_asof
         FROM events e WHERE e.event_type = 'purchase'
         ORDER BY e.event_id""",
    "rel_skyline" ->
      """WITH v AS (SELECT o_orderkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
                      CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num
                    FROM orders),
              px AS (SELECT price_cents AS x, max(day_num) AS ymax FROM v GROUP BY 1),
              sk AS (SELECT x, ymax,
                       max(ymax) OVER (ORDER BY x DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ma
                     FROM px),
              keep AS (SELECT x, ymax FROM sk WHERE ma IS NULL OR ymax > ma)
         SELECT v.o_orderkey, v.price_cents, v.day_num
         FROM v JOIN keep ON v.price_cents = keep.x AND v.day_num = keep.ymax
         ORDER BY o_orderkey""",
    "events_ab_test" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS v,
                      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
                    FROM events GROUP BY 1, 2),
              g AS (SELECT v, count(*) AS n, CAST(sum(s) AS BIGINT) AS c FROM u GROUP BY 1),
              a AS (SELECT * FROM g ORDER BY v LIMIT 1),
              b AS (SELECT * FROM g ORDER BY v DESC LIMIT 1),
              t AS (SELECT a.v AS va, a.n AS n1, a.c AS c1,
                           b.v AS vb, b.n AS n2, b.c AS c2 FROM a, b)
         SELECT va AS variant_a, n1 AS n_a, c1 AS conv_a,
                vb AS variant_b, n2 AS n_b, c2 AS conv_b,
                CAST((c1 * 1000000) // n1 - (c2 * 1000000) // n2 AS BIGINT) AS diff_ppm,
                (CAST(625 AS HUGEINT)
                   * (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                   * (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                   * (n1 + n2))
                > (CAST(2401 AS HUGEINT) * (c1 + c2)
                   * ((n1 + n2) - (c1 + c2)) * n1 * n2) AS significant
         FROM t""",
    "emb_triplets" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                    FROM embeddings),
              scored AS (
                SELECT qq.vec_id AS a, qq.label AS al, cc.vec_id AS b, cc.label AS bl,
                       CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(qq.qv, cc.qv), p -> p[1] * p[2])) AS DOUBLE)
                         / (sqrt(CAST(list_sum(list_transform(qq.qv, x -> x * x)) AS DOUBLE))
                          * sqrt(CAST(list_sum(list_transform(cc.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cs
                FROM q qq JOIN q cc ON cc.vec_id <> qq.vec_id),
              pos AS (SELECT a, b, cs FROM (
                SELECT a, b, cs, row_number() OVER (PARTITION BY a ORDER BY cs DESC, b) AS rn
                FROM scored WHERE al = bl) WHERE rn = 1),
              neg AS (SELECT a, b, cs FROM (
                SELECT a, b, cs, row_number() OVER (PARTITION BY a ORDER BY cs DESC, b) AS rn
                FROM scored WHERE al <> bl) WHERE rn = 1)
         SELECT p.a AS anchor_id,
                CAST((SELECT label FROM q WHERE q.vec_id = p.a) AS BIGINT) AS label,
                p.b AS pos_id, p.cs AS pos_cos,
                n.b AS neg_id, n.cs AS neg_cos
         FROM pos p JOIN neg n ON n.a = p.a
         ORDER BY anchor_id""",
    "emb_drift" ->
      """WITH q AS (SELECT vec_id, vec_id % 2 AS side,
                      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                    FROM embeddings WHERE embedding IS NOT NULL),
              bk AS (SELECT side,
                       (CASE WHEN qv[1] >= 0 THEN 1 ELSE 0 END
                        + CASE WHEN qv[2] >= 0 THEN 2 ELSE 0 END
                        + CASE WHEN qv[3] >= 0 THEN 4 ELSE 0 END) AS bucket, qv
                     FROM q),
              d AS (SELECT bucket, side, generate_subscripts(qv, 1) AS p, unnest(qv) AS x
                    FROM bk),
              g AS (SELECT bucket, p,
                      CAST(sum(CASE WHEN side = 0 THEN x END) AS BIGINT) AS sa,
                      CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                      CAST(sum(CASE WHEN side = 1 THEN x END) AS BIGINT) AS sb,
                      CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
                    FROM d GROUP BY 1, 2),
              c AS (SELECT bucket, na, nb, abs(sa // na - sb // nb) AS ad
                    FROM g WHERE na > 0 AND nb > 0)
         SELECT CAST(bucket AS INT) AS bucket, max(na) AS n_a, max(nb) AS n_b,
                CAST(sum(ad) AS BIGINT) AS drift_q
         FROM c GROUP BY bucket ORDER BY bucket""",
    "pipeline_l_diversity" ->
      """SELECT user_bucket, day, n, n_distinct FROM (
           SELECT user_id % 25 AS user_bucket, CAST(ts AS DATE) AS day,
                  count(*) AS n,
                  count(DISTINCT event_type) AS n_distinct
           FROM events GROUP BY 1, 2)
         WHERE n_distinct < 3 ORDER BY user_bucket, day""",
    "pipeline_t_closeness" ->
      """WITH cells AS (SELECT user_id % 25 AS user_bucket,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) // 2000 AS v,
                      count(*) AS g
                    FROM events GROUP BY 1, 2),
              gvals AS (SELECT v, sum(g) AS a FROM cells WHERE v IS NOT NULL GROUP BY 1),
              tot AS (SELECT sum(a) AS nt, count(*) AS m FROM gvals),
              grp AS (SELECT user_bucket,
                        sum(CASE WHEN v IS NOT NULL THEN g ELSE 0 END) AS n,
                        sum(CASE WHEN v IS NULL THEN g ELSE 0 END) AS n_null
                      FROM cells GROUP BY 1
                      HAVING sum(CASE WHEN v IS NOT NULL THEN g ELSE 0 END) > 0),
              dense AS (SELECT grp.user_bucket, grp.n, grp.n_null, gv.v, gv.a, t.nt, t.m,
                          coalesce(c.g, 0) AS gd
                        FROM grp CROSS JOIN gvals gv CROSS JOIN tot t
                        LEFT JOIN (SELECT * FROM cells WHERE v IS NOT NULL) c
                          ON c.user_bucket = grp.user_bucket AND c.v = gv.v),
              st AS (SELECT user_bucket, n, n_null, nt, m,
                       abs(CAST(sum(gd) OVER w AS HUGEINT) * nt
                           - CAST(sum(a) OVER w AS HUGEINT) * n) AS d
                     FROM dense WINDOW w AS (PARTITION BY user_bucket ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_bucket, CAST(n AS BIGINT) AS n, CAST(n_null AS BIGINT) AS n_null,
                CAST((sum(d) * 1000000) // (CAST(n AS HUGEINT) * nt * (m - 1)) AS BIGINT) AS emd_ppm
         FROM st GROUP BY user_bucket, n, n_null, nt, m
         HAVING CAST((sum(d) * 1000000) // (CAST(n AS HUGEINT) * nt * (m - 1)) AS BIGINT) > 8000
         ORDER BY user_bucket""",
    "graph_copurchase" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r
                    FROM lineitem WHERE l_orderkey % 4 = 0),
              deg AS (SELECT l, count(*) AS d FROM e GROUP BY 1),
              kept AS (SELECT e.l, e.r FROM e JOIN deg USING (l) WHERE d <= 1000)
         SELECT x.r AS a, y.r AS b, CAST(count(*) AS BIGINT) AS weight
         FROM kept x JOIN kept y ON x.l = y.l AND x.r < y.r
         GROUP BY 1, 2 ORDER BY a, b""",
    "graph_kcore" -> kCoreOracleSql(3, 8),
    "graph_mst" -> mstOracleSql(MstRoundBudget),
    "graph_modularity" -> modularityOracleSql(4),
    "rel_hierarchy_rollup" ->
      """WITH RECURSIVE anc AS (
           SELECT p_partkey AS child, CAST((p_partkey - 1) // 10 AS BIGINT) AS anc
           FROM part WHERE p_partkey >= 1
           UNION ALL
           SELECT a.child, CAST((a.anc - 1) // 10 AS BIGINT)
           FROM anc a WHERE a.anc >= 1),
         pairs AS (SELECT child, anc FROM anc
                   UNION ALL SELECT p_partkey, p_partkey FROM part),
         v AS (SELECT p_partkey AS child,
                      CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
               FROM part)
         SELECT p.anc AS node, CAST(count(*) AS BIGINT) AS n_subtree,
                CAST(sum(v.cents) AS BIGINT) AS subtree_cents
         FROM pairs p JOIN v ON v.child = p.child
         GROUP BY 1 ORDER BY node""",
    "graph_bfs" -> shortestPathsOracleSql(4, weighted = false),
    "graph_harmonic" -> harmonicOracleSql(8, 4),
    "graph_eccentricity" -> eccentricityOracleSql(8, 4),
    "graph_closeness" -> closenessOracleSql(8, 4),
    "graph_betweenness" -> betweennessOracleSql(8, 4),
    "graph_temporal_reach" -> temporalReachOracleSql(3),
    "graph_degree_dist" ->
      """WITH e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM (
                      SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
                      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
                    WHERE src <> dst),
              deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
                        SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                      GROUP BY node),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg)
         SELECT CAST(length(printf('%b', d)) AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_nodes,
                CAST((count(*) * 1000000) // (SELECT n FROM tot) AS BIGINT) AS share_ppm,
                min(d) AS min_degree, max(d) AS max_degree
         FROM deg GROUP BY 1 ORDER BY bucket""",
    "graph_reciprocity" ->
      """WITH e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             WHERE l_returnflag <> 'R'
             UNION
             SELECT l_suppkey + 1000000 AS src, o_custkey AS dst
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             WHERE l_returnflag = 'R')
           WHERE src <> dst),
           r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
                 FROM e WHERE EXISTS (SELECT 1 FROM e e2
                                      WHERE e2.src = e.dst AND e2.dst = e.src)),
           n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         SELECT n_edges, n_reciprocal,
                CAST((n_reciprocal * 1000000) // n_edges AS BIGINT) AS reciprocity_ppm
         FROM n, r WHERE n_edges > 0""",
    "graph_shortest_paths" -> shortestPathsOracleSql(4, weighted = true),
    "events_scd2" ->
      """WITH s AS (
           SELECT user_id, ts, event_id, event_type,
                  (lag(event_id) OVER w IS NULL
                   OR event_type IS DISTINCT FROM lag(event_type) OVER w) AS chg
           FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         c AS (SELECT user_id, event_type, ts AS valid_from, event_id
               FROM s WHERE chg)
         SELECT user_id, event_type, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                                       ORDER BY valid_from, event_id) AS valid_to,
                event_id
         FROM c ORDER BY user_id, valid_from, event_id""",
    "events_scd2_lookup" ->
      """WITH s AS (
           SELECT user_id, ts, event_id, event_type,
                  (lag(event_id) OVER w IS NULL
                   OR event_type IS DISTINCT FROM lag(event_type) OVER w) AS chg
           FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         d AS (SELECT user_id, event_type, ts AS valid_from, event_id
               FROM s WHERE chg),
         f AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id,
                (SELECT dd.event_type FROM d dd
                 WHERE dd.user_id = f.user_id AND dd.valid_from <= f.ts
                 ORDER BY dd.valid_from DESC, dd.event_id DESC LIMIT 1)
                  AS state_at_purchase
         FROM f ORDER BY f.event_id""",
    "events_cdc_latest" ->
      """WITH r AS (
           SELECT user_id, ts, event_id, event_type, value, props,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL)
         SELECT user_id, ts, event_id, event_type, value, props
         FROM r WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""",
    "graph_communities" -> labelPropagationOracleSql(4),
    "graph_louvain" -> louvainOracleSql(3),
    "graph_louvain_full" -> louvainFullOracleSql(3),
    "graph_walks" -> {
      val h60 = (t: Int) =>
        s"CAST('0x' || substr(md5('rw:' || CAST(w.start AS VARCHAR) || ':$t:' || CAST(w.cur AS VARCHAR)), 1, 15) AS BIGINT)"
      val steps = (1 to 4).map { t =>
        s"""s$t AS MATERIALIZED (SELECT w.start, n.dst AS cur
           |  FROM s${t - 1} w JOIN n ON n.src = w.cur
           |   AND n.rnk = ${h60(t)} % n.deg + 1)""".stripMargin
      }.mkString(",\n")
      val out = (1 to 4).map(t =>
        s"SELECT start, CAST($t AS BIGINT) AS step, cur AS node FROM s$t")
        .mkString("\nUNION ALL\n")
      s"""WITH base AS (
         |  SELECT o_custkey AS c, l_suppkey + 1000000 AS s, l_returnflag AS rf
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_orderkey % 8 = 0),
         |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT c AS src, s AS dst FROM base WHERE rf <> 'R'
         |    UNION ALL
         |    SELECT s AS src, c AS dst FROM base WHERE rf = 'R')
         |  WHERE src <> dst),
         |n AS MATERIALIZED (SELECT src, dst,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rnk,
         |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
         |  FROM e),
         |s0 AS (SELECT DISTINCT src AS start, src AS cur FROM e),
         |$steps
         |SELECT CAST(start AS BIGINT) AS start, step, CAST(node AS BIGINT) AS node FROM (
         |  SELECT start, CAST(0 AS BIGINT) AS step, cur AS node FROM s0
         |  UNION ALL
         |  $out)
         |ORDER BY start, step""".stripMargin
    },
    "graph_condensation" ->
      """WITH RECURSIVE base AS (
           SELECT o_custkey AS c, l_suppkey + 1000000 AS s, l_returnflag AS rf
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey % 8 = 0),
         e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                 SELECT c AS src, s AS dst FROM base WHERE rf <> 'R'
                 UNION ALL
                 SELECT s AS src, c AS dst FROM base WHERE rf = 'R')
               WHERE src <> dst),
         nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         reach(a, b) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
         mutual AS (SELECT r1.a, r1.b FROM reach r1
                    JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
         sccmap AS MATERIALIZED (
           SELECT n.v AS node, least(n.v, coalesce(min(m.b), n.v)) AS scc
           FROM nodes n LEFT JOIN mutual m ON m.a = n.v GROUP BY n.v),
         ce AS MATERIALIZED (SELECT DISTINCT sa.scc AS cs, sb.scc AS cd
               FROM e JOIN sccmap sa ON sa.node = e.src
                      JOIN sccmap sb ON sb.node = e.dst
               WHERE sa.scc <> sb.scc),
         lvl(c, l) AS (
           SELECT DISTINCT scc, 0 FROM sccmap
           UNION
           SELECT ce.cd, lvl.l + 1 FROM lvl JOIN ce ON ce.cs = lvl.c)
         SELECT CAST(s.scc AS BIGINT) AS scc,
                CAST(count(*) AS BIGINT) AS n_members,
                CAST((SELECT max(l) FROM lvl WHERE lvl.c = s.scc) AS BIGINT) AS level
         FROM sccmap s GROUP BY s.scc ORDER BY scc""",
    "graph_scc" ->
      """WITH RECURSIVE base AS (
           SELECT o_custkey AS c, l_suppkey + 1000000 AS s, l_returnflag AS rf
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey % 8 = 0),
         e AS (SELECT DISTINCT src, dst FROM (
                 SELECT c AS src, s AS dst FROM base WHERE rf <> 'R'
                 UNION ALL
                 SELECT s AS src, c AS dst FROM base WHERE rf = 'R')
               WHERE src <> dst),
         nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         reach(a, b) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
         mutual AS (SELECT r1.a, r1.b FROM reach r1
                    JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
         SELECT CAST(n.v AS BIGINT) AS node,
                CAST(least(n.v, coalesce(min(m.b), n.v)) AS BIGINT) AS scc
         FROM nodes n LEFT JOIN mutual m ON m.a = n.v
         GROUP BY n.v ORDER BY node""",
    "graph_components" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey, l_partkey FROM lineitem
                               WHERE l_orderkey % 16 = 0),
              und AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                      FROM li x JOIN li y
                        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              nodes AS (SELECT a AS n FROM und UNION SELECT b FROM und),
              adj AS (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
              reach(n, m) AS (
                SELECT n, n FROM nodes
                UNION
                SELECT r.n, a.y FROM reach r JOIN adj a ON a.x = r.m)
         SELECT n AS node, CAST(min(m) AS BIGINT) AS component
         FROM reach GROUP BY 1 ORDER BY node""",
    "graph_pagerank" -> pageRankOracleSql(5),
    "graph_ppr" -> pageRankOracleSql(5, seeded = true),
    "graph_pagerank_weighted" -> pageRankOracleSql(5, weighted = true),
    "graph_hits" -> hitsOracleSql(3),
    "graph_ktruss" -> kTrussOracleSql(5, 8),
    "graph_links" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
              und AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                      FROM li x JOIN li y
                        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                        SELECT a AS n FROM und UNION ALL SELECT b FROM und)
                      GROUP BY n),
              adj AS (SELECT a AS n, b AS nbr FROM und
                      UNION ALL SELECT b, a FROM und),
              kept AS (SELECT adj.n, adj.nbr FROM adj
                       JOIN deg ON deg.n = adj.n AND deg.d <= 500),
              cand AS (SELECT x.nbr AS a, y.nbr AS b, CAST(count(*) AS BIGINT) AS common
                       FROM kept x JOIN kept y ON x.n = y.n AND x.nbr < y.nbr
                       GROUP BY 1, 2),
              nonadj AS (SELECT c.* FROM cand c
                         WHERE NOT EXISTS (SELECT 1 FROM und
                           WHERE und.a = c.a AND und.b = c.b))
         SELECT n.a, n.b, n.common, da.d AS deg_a, db.d AS deg_b,
                CAST((n.common * 1000000) // (da.d + db.d - n.common) AS BIGINT) AS jaccard_ppm
         FROM nonadj n JOIN deg da ON da.n = n.a JOIN deg db ON db.n = n.b
         ORDER BY jaccard_ppm DESC, common DESC, a, b LIMIT 50""",
    "graph_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
              p AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                    FROM li x JOIN li y
                      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              tri AS (SELECT xy.a AS x, xy.b AS y, yz.b AS z
                      FROM p xy JOIN p yz ON xy.b = yz.a
                                JOIN p xz ON xz.a = xy.a AND xz.b = yz.b)
         SELECT node, count(*) AS n_triangles
         FROM (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
         GROUP BY node ORDER BY node""",
    "graph_clustering" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
              p AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                    FROM li x JOIN li y
                      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              deg AS (SELECT n, count(*) AS d FROM (
                        SELECT a AS n FROM p UNION ALL SELECT b FROM p) GROUP BY 1),
              tri AS (SELECT xy.a AS x, xy.b AS y, yz.b AS z
                      FROM p xy JOIN p yz ON xy.b = yz.a
                                JOIN p xz ON xz.a = xy.a AND xz.b = yz.b),
              tc AS (SELECT node, count(*) AS n_triangles
                     FROM (SELECT x AS node FROM tri
                           UNION ALL SELECT y FROM tri
                           UNION ALL SELECT z FROM tri)
                     GROUP BY node)
         SELECT deg.n AS node, deg.d AS degree,
                CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
                (2 * CAST(coalesce(tc.n_triangles, 0) AS BIGINT) * 1000000)
                  // (deg.d * (deg.d - 1)) AS coeff_ppm
         FROM deg LEFT JOIN tc ON tc.node = deg.n
         WHERE deg.d >= 2 ORDER BY node""",
    "jq_single_int" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k, count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "jq_multi_col" ->
      """SELECT event_id, k, k*2 AS d, CAST(k AS VARCHAR) AS s
         FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         ORDER BY event_id""",
    "jq_lateral_view" ->
      """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
         FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         WHERE k > 50 GROUP BY event_type ORDER BY event_type""",
    "jq_array_iterate" ->
      """SELECT event_id, CAST(unnest([k, k+1, k+2]) AS INT) AS col1
         FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         WHERE event_id < 200 ORDER BY event_id, col1""",
    "jq_error_skip" ->
      """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
         FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k, event_id FROM events)
         WHERE event_id % 10 <> 0
         GROUP BY event_type ORDER BY event_type""",
    "jq_error_substitute" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CASE WHEN event_id % 10 = 0 THEN -1 ELSE k END) AS BIGINT) AS sum_k
         FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k, event_id FROM events)
         GROUP BY event_type ORDER BY event_type""",
    "jq_single_struct" ->
      """SELECT event_id, k, k * 3 AS d
         FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         WHERE event_id < 400 ORDER BY event_id""",
    "jq_types_all" ->
      """SELECT event_id, k AS i, CAST(k AS BIGINT) * 1000000000 AS b,
                CAST(k AS DOUBLE) / 4 AS f, k > 50 AS bo, CAST(k AS VARCHAR) AS s,
                k + 1 AS a1, k AS mv, k + 7 AS stq
         FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         WHERE event_id < 400 ORDER BY event_id""",
    "jq_builtins_text" ->
      """SELECT doc_id, substr(upper(text), 1, 20) AS up20,
                CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_words
         FROM documents ORDER BY doc_id""",
    "jq_extract_all" ->
      """SELECT event_id, '["' || CAST(k AS VARCHAR) || '","' || CAST(k*2 AS VARCHAR) || '"]' AS vals
         FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         WHERE event_id < 300 ORDER BY event_id""",
    "jq_dates" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS iso,
                CAST(hour(ts) AS BIGINT) AS hour
         FROM events WHERE event_id < 300 ORDER BY event_id""",
    "jq_outer_lateral" ->
      """SELECT event_id, CASE WHEN k > 90 THEN k END AS k
         FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         WHERE event_id < 300 ORDER BY event_id""",
    "jq_events_pipeline" ->
      """SELECT event_type, 'n=' || n || ',sum=' || sum_k AS packed, n, sum_k
         FROM (SELECT event_type, count(*) AS n,
                      CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
               FROM events
               WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 10
               GROUP BY event_type)
         ORDER BY event_type""",
    "rel_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
                count(*) AS n
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "rel_q3_join" ->
      """SELECT o.o_orderkey,
                CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
           AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         GROUP BY o.o_orderkey
         ORDER BY rev_cents DESC, o_orderkey
         LIMIT 10""",
    "rel_q5_multijoin" ->
      """SELECT n.n_name,
                CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM region r
         JOIN nation n ON n.n_regionkey = r.r_regionkey
         JOIN customer c ON c.c_nationkey = n.n_nationkey
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE r.r_name = 'ASIA'
         GROUP BY n.n_name
         ORDER BY rev_cents DESC, n_name""",
    "rel_q18_semijoin" ->
      """SELECT o.o_orderkey, o.o_orderpriority, t.total_qty
         FROM orders o
         JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
               FROM lineitem GROUP BY l_orderkey
               HAVING sum(CAST(l_quantity AS BIGINT)) > 150) t
           ON t.l_orderkey = o.o_orderkey
         ORDER BY t.total_qty DESC, o.o_orderkey
         LIMIT 100""",
    "rel_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l.l_shipdate) AS INT) AS l_year,
                CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM supplier s
         JOIN lineitem l ON s.s_suppkey = l.l_suppkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
         JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
         WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
         ORDER BY supp_nation, cust_nation, l_year""",
    "rel_q10_returns" ->
      """SELECT c.c_custkey, c.c_name,
                CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE l.l_returnflag = 'R'
         GROUP BY c.c_custkey, c.c_name
         ORDER BY rev_cents DESC, c_custkey
         LIMIT 20""",
    "rel_q4_priority" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate)
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority""",
    "rel_q12_shipmode" ->
      """SELECT l.l_returnflag,
                CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders o
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l.l_returnflag
         ORDER BY l.l_returnflag""",
    "rel_q19_disjunctive" ->
      """SELECT CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
                CAST(count(*) AS BIGINT) AS n_lines
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
            OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
            OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)""",
    "rel_q6_forecast" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
                CAST(count(*) AS BIGINT) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "rel_q14_promo" ->
      """SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS promo_cents,
                CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""",
    "rel_q16_supplier_cnt" ->
      """SELECT p.p_brand, p.p_size,
                CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
         FROM part p
         JOIN lineitem l ON l.l_partkey = p.p_partkey
         WHERE p.p_size IN (1, 14, 23, 45)
           AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p.p_brand, p.p_size
         ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""",
    "rel_q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, r.total_cents
         FROM supplier s
         JOIN rev r ON r.l_suppkey = s.s_suppkey
         WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
         ORDER BY s.s_suppkey""",
    "jq_wide_extract" ->
      """SELECT doc_id, lang || lang AS lang2,
                CAST(floor(n_chars / 2.0) AS BIGINT) AS half
         FROM documents
         ORDER BY doc_id""",
    "jq_regex_text" ->
      """SELECT doc_id,
                substr(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40) AS vowelless,
                CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers
         FROM documents
         ORDER BY doc_id""",
    "rel_q13_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
               FROM customer c
               LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                                 AND o.o_orderpriority <> '5-LOW'
               GROUP BY c.c_custkey) t
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "rel_q17_small_qty" ->
      """SELECT CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
                CAST(count(*) AS BIGINT) AS n_lines
         FROM lineitem l
         JOIN (SELECT l_partkey,
                      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
                      CAST(count(*) AS BIGINT) AS qty_n
               FROM lineitem GROUP BY l_partkey) a
           ON a.l_partkey = l.l_partkey
         JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#23'
           AND 5 * CAST(l.l_quantity AS BIGINT) * a.qty_n < a.qty_sum""",
    "rel_q22_global_sales" ->
      """WITH pos AS (SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
                             CAST(count(*) AS BIGINT) AS n
                      FROM customer WHERE c_acctbal > 0)
         SELECT c.c_mktsegment,
                CAST(count(*) AS BIGINT) AS numcust,
                CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS totacctbal_cents
         FROM customer c CROSS JOIN pos
         WHERE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) * pos.n > pos.s
           AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c.c_mktsegment
         ORDER BY c.c_mktsegment""",
    "rel_q2_min_cost" ->
      """WITH costs AS (
           SELECT l.l_partkey, s.s_suppkey, s.s_name,
                  CAST(min(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cost_cents
           FROM lineitem l
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n ON n.n_nationkey = s.s_nationkey
           JOIN region r ON r.r_regionkey = n.n_regionkey
           WHERE r.r_name = 'ASIA'
           GROUP BY l.l_partkey, s.s_suppkey, s.s_name)
         SELECT p.p_partkey, p.p_brand, c.s_suppkey, c.s_name, c.cost_cents
         FROM part p
         JOIN costs c ON c.l_partkey = p.p_partkey
         WHERE p.p_size IN (5, 10, 23)
           AND c.cost_cents = (SELECT min(c2.cost_cents) FROM costs c2
                               WHERE c2.l_partkey = p.p_partkey)
         ORDER BY c.cost_cents, p.p_partkey, c.s_suppkey
         LIMIT 100""",
    "rel_q8_market_share" ->
      """WITH vol AS (
           SELECT year(o.o_orderdate) AS o_year,
                  CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS vol_cents,
                  n2.n_name AS supp_nation
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
           JOIN region r ON r.r_regionkey = n1.n_regionkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
           WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
         SELECT o_year,
                CAST((1000000 * sum(CASE WHEN supp_nation = 'NATION_1' THEN vol_cents ELSE 0 END))
                     // sum(vol_cents) AS BIGINT) AS share_ppm,
                CAST(sum(vol_cents) AS BIGINT) AS total_cents
         FROM vol
         GROUP BY o_year
         ORDER BY o_year""",
    "rel_q9_profit" ->
      """SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                         - ((CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT)
                             * CAST(l.l_quantity AS BIGINT)) // 10)) AS BIGINT) AS profit_cents
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         WHERE p.p_name LIKE '%red%'
         GROUP BY n.n_name, year(o.o_orderdate)
         ORDER BY nation, o_year DESC""",
    "rel_q11_important_stock" ->
      """WITH v AS (
           SELECT l.l_partkey,
                  CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS val_cents
           FROM lineitem l
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n ON n.n_nationkey = s.s_nationkey
           WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
           GROUP BY l.l_partkey)
         SELECT l_partkey, val_cents
         FROM v
         WHERE 10000 * val_cents > (SELECT sum(val_cents) FROM v)
         ORDER BY val_cents DESC, l_partkey""",
    "rel_q20_excess_supply" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
                            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
                     FROM lineitem GROUP BY l_partkey, l_suppkey),
              pt AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS total,
                            CAST(count(*) AS BIGINT) AS ns
                     FROM ps GROUP BY l_partkey)
         SELECT s.s_suppkey, s.s_name
         FROM supplier s
         WHERE s.s_suppkey IN (SELECT ps.l_suppkey FROM ps
                               JOIN pt ON pt.l_partkey = ps.l_partkey
                               WHERE ps.qty * pt.ns > 2 * pt.total)
           AND s.s_nationkey IN (SELECT n_nationkey FROM nation
                                 WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4'))
         ORDER BY s.s_suppkey""",
    "rel_q21_waiting" ->
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM supplier s
         JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         WHERE o.o_orderstatus = 'F'
           AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
           AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
         GROUP BY s.s_name
         ORDER BY numwait DESC, s.s_name""",
    "rel_range_join" ->
      """SELECT o.o_orderkey AS window_id, CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM orders o
         JOIN lineitem l ON l.l_shipdate >= o.o_orderdate
                        AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
         WHERE o.o_orderkey % 997 = 0
         GROUP BY o.o_orderkey
         ORDER BY window_id""",
    "rel_exists_semi" ->
      """SELECT o_orderstatus, count(*) AS n
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "rel_not_exists_anti" ->
      """SELECT o_orderpriority, count(*) AS n
         FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "rel_window_topn" ->
      """SELECT c_mktsegment, rn, o_orderkey, price_cents
         FROM (
           SELECT c.c_mktsegment,
                  row_number() OVER (PARTITION BY c.c_mktsegment
                                     ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn,
                  o.o_orderkey,
                  CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
           FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         ) t WHERE rn <= 3
         ORDER BY c_mktsegment, rn""",
    "rel_distinct_parts" ->
      """SELECT l_returnflag,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supp
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "rel_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
                coalesce(l_linestatus, 'ALL') AS lstatus,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rflag, lstatus""",
    "rel_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
                coalesce(l_linestatus, 'ALL') AS lstatus,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY rflag, lstatus""",
    "rel_histogram" ->
      """WITH m AS (SELECT min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS lo,
                           max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS hi
                    FROM lineitem),
              p AS (SELECT lo, greatest(1, (hi - lo) // 16 +
                      CASE WHEN (hi - lo) % 16 = 0 THEN 0 ELSE 1 END) AS w FROM m),
              v AS (SELECT least(15, (CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                                      - (SELECT lo FROM p)) // (SELECT w FROM p)) AS bin
                    FROM lineitem WHERE l_extendedprice IS NOT NULL)
         SELECT CAST(bin AS INT) AS bin,
                (SELECT lo FROM p) + bin * (SELECT w FROM p) AS lo_cents,
                (SELECT lo FROM p) + (bin + 1) * (SELECT w FROM p) AS hi_cents,
                count(*) AS n
         FROM v GROUP BY bin ORDER BY bin""",
    "rel_mode" ->
      """SELECT l_returnflag, mode_value, mode_n FROM (
           SELECT l_returnflag, ship_month AS mode_value, n AS mode_n,
                  row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY n DESC, ship_month ASC) AS rn
           FROM (SELECT l_returnflag, CAST(month(l_shipdate) AS INT) AS ship_month,
                        count(*) AS n
                 FROM lineitem WHERE l_shipdate IS NOT NULL
                 GROUP BY 1, 2))
         WHERE rn = 1 ORDER BY l_returnflag""",
    "rel_mad" ->
      """WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS m
                      FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag,
                CAST(floor(any_value(med.m) * 100 + 0.5) AS BIGINT) AS med_c,
                CAST(floor(quantile_cont(abs(l.l_quantity - med.m), 0.5) * 100 + 0.5)
                     AS BIGINT) AS mad_c
         FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
         WHERE l.l_quantity IS NOT NULL
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",
    "rel_setops" ->
      """SELECT 'both_years' AS k, count(*) AS n FROM (
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
           INTERSECT
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998) t1
         UNION ALL
         SELECT 'only_1998' AS k, count(*) AS n FROM (
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
           EXCEPT
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997) t2
         ORDER BY k""",
    "rel_percentiles" ->
      """SELECT l_returnflag,
                CAST(floor(ps[1] * 100 + 0.5) AS BIGINT) AS p25_c,
                CAST(floor(ps[2] * 100 + 0.5) AS BIGINT) AS p50_c,
                CAST(floor(ps[3] * 100 + 0.5) AS BIGINT) AS p75_c
         FROM (SELECT l_returnflag,
                      quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS ps
               FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag""",
    "rel_quantile_buckets" ->
      """WITH b AS (SELECT unnest(quantile_cont(l_extendedprice,
                      [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])) AS q FROM lineitem),
              bc AS (SELECT CAST(floor(q * 100 + 0.5) AS BIGINT) AS c FROM b),
              v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents FROM lineitem),
              x AS (SELECT cents, (SELECT count(*) FROM bc WHERE v.cents > bc.c) AS bucket FROM v)
         SELECT CAST(bucket AS INT) AS bucket, count(*) AS n,
                min(cents) AS min_cents, max(cents) AS max_cents
         FROM x GROUP BY bucket ORDER BY bucket""",
    "rel_winsorize" ->
      """WITH b AS (SELECT quantile_cont(l_extendedprice, [0.05, 0.95]) AS q FROM lineitem),
              c AS (SELECT CAST(floor(q[1] * 100 + 0.5) AS BIGINT) AS lo,
                           CAST(floor(q[2] * 100 + 0.5) AS BIGINT) AS hi FROM b)
         SELECT l_returnflag,
                CAST(sum(greatest((SELECT lo FROM c), least((SELECT hi FROM c),
                     CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)))) AS BIGINT) AS w_cents,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "rel_pivot" ->
      """SELECT l_returnflag,
                CAST(coalesce(sum(CASE WHEN l_linestatus = 'F'
                  THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) END), 0) AS BIGINT) AS f_cents,
                CAST(coalesce(sum(CASE WHEN l_linestatus = 'O'
                  THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) END), 0) AS BIGINT) AS o_cents
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "rel_unpivot" ->
      """WITH w AS (SELECT l_returnflag,
                      CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents,
                      CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
                      CAST(sum(CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS disc_ppm
                    FROM lineitem GROUP BY 1)
         SELECT l_returnflag, metric, amount FROM (
           SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS amount FROM w
           UNION ALL
           SELECT l_returnflag, 'price_cents', price_cents FROM w
           UNION ALL
           SELECT l_returnflag, 'disc_ppm', disc_ppm FROM w) t
         ORDER BY l_returnflag, metric""",
    "rel_topk_agg" ->
      """SELECT c_mktsegment, rank, o_orderkey, price_cents FROM (
           SELECT c.c_mktsegment,
                  CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                    ORDER BY floor(o.o_totalprice * 100 + 0.5) DESC, o.o_orderkey) AS INT) AS rank,
                  o.o_orderkey,
                  CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
           FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey) t
         WHERE rank <= 3 ORDER BY c_mktsegment, rank""",
    "rel_asof_join" ->
      """SELECT p.event_id, p.user_id, v.event_id AS event_id_asof,
                CAST(floor(v.value * 100 + 0.5) AS BIGINT) AS view_cents
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p.event_id""",
    "rel_salted_distinct" ->
      """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "rel_salted_sum" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "rel_skew_join" ->
      """SELECT n_name,
                CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
                count(*) AS n
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "dedup_exact" ->
      """SELECT count(*) AS n_docs,
                CAST(count(*) - count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_dup,
                CAST(count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_unique
         FROM documents""",
    "dedup_fuzzy_names" ->
      """SELECT a.c_custkey AS a, b.c_custkey AS b
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY a, b""",
    "multimodal_phash_pairs" ->
      """WITH h AS (
           SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN
                      (((doc_id // 8) * 31 + ((b // 8) * 9 + (b % 8) + 1) * 131) % 248
                       + CASE WHEN (b // 8) * 9 + (b % 8) + 1 = doc_id % 72 THEN doc_id % 8 ELSE 0 END)
                    > (((doc_id // 8) * 31 + ((b // 8) * 9 + (b % 8)) * 131) % 248
                       + CASE WHEN (b // 8) * 9 + (b % 8) = doc_id % 72 THEN doc_id % 8 ELSE 0 END)
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END), 0) AS BIGINT) AS dh
           FROM documents, generate_series(0, 62) AS t(b)
           GROUP BY doc_id)
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dh, b.dh)) <= 3
         ORDER BY a, b""",
    "dedup_ngram_jaccard" ->
      """WITH n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') t FROM documents),
              s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 1, 2)), i -> t[i:i+2])) sh FROM n)
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_int,
                CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union,
                len(list_intersect(a.sh, b.sh)) * 10 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 8 AS is_dup
         FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
         ORDER BY a""",
    "dedup_minhash_pairs" -> minhashPairsOracleSql(),
    // r11: banding PR audit — candidates from the SAME band replay as
    // dedup_minhash_pairs, ground truth = all pairs at exact
    // cross-multiplied Jaccard >= 80 (the similarityJoin threshold form)
    "dedup_minhash_pr" ->
      s"""WITH ${minhashBandCtes(128, 16, 5, where = "WHERE doc_id < 500")},
         |gd AS (SELECT doc_id, band, bucket FROM (
         |         SELECT bk.*, count(*) OVER (PARTITION BY band, bucket) AS nb FROM bk)
         |       WHERE nb <= 200),
         |pr AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |       FROM gd x JOIN gd y
         |         ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |s5 AS (SELECT doc_id, ${shingleListSql(5)} AS sh FROM n),
         |tr AS (SELECT sa.doc_id AS a, sb.doc_id AS b
         |       FROM s5 sa JOIN s5 sb ON sa.doc_id < sb.doc_id
         |       WHERE len(sa.sh) > 0 AND len(sb.sh) > 0
         |         AND len(list_intersect(sa.sh, sb.sh)) * 100 >=
         |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 80),
         |cn AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM pr),
         |tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr),
         |tp AS (SELECT CAST(count(*) AS BIGINT) AS n_true_candidates
         |       FROM pr JOIN tr USING (a, b))
         |SELECT n_candidates, n_truth, n_true_candidates,
         |  CASE WHEN n_candidates > 0 THEN n_true_candidates * 1000000 // n_candidates END AS precision_ppm,
         |  CASE WHEN n_truth > 0 THEN n_true_candidates * 1000000 // n_truth END AS recall_ppm
         |FROM cn CROSS JOIN tn CROSS JOIN tp""".stripMargin,
    "text_rater_agreement" -> fleissOracleSql,
    "text_langid_confusion" ->
      s"""WITH p AS (${langIdSelectSql("text")}),
         |g AS (SELECT d.lang, p.lang_pred AS pred, CAST(count(*) AS BIGINT) AS n
         |      FROM documents d JOIN p ON p.doc_id = d.doc_id
         |      WHERE d.lang IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS rt FROM g GROUP BY 1)
         |SELECT g.lang, g.pred, g.n, CAST(g.rt2 AS BIGINT) AS row_total,
         |       CAST(g.n * 1000000 // g.rt2 AS BIGINT) AS share_ppm
         |FROM (SELECT g.*, t.rt AS rt2 FROM g JOIN t USING (lang)) g
         |ORDER BY lang, pred""".stripMargin,
    "pipeline_gini" ->
      """WITH per AS (SELECT source AS g,
                        CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0))) AS BIGINT) AS w
                      FROM documents WHERE source IS NOT NULL GROUP BY 1),
              r AS (SELECT g, w, row_number() OVER (ORDER BY w, g) AS i FROM per),
              m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(w) AS HUGEINT) AS t,
                      CAST(sum(CAST(i AS HUGEINT) * w) AS HUGEINT) AS siw FROM r)
         SELECT n AS n_groups, CAST(t AS BIGINT) AS total_tokens,
                CASE WHEN t > 0 THEN CAST((2 * siw - (n + 1) * t) * 1000000 // (n * t) AS BIGINT) END AS gini_ppm
         FROM m WHERE n > 0""",
    "dedup_crosscorpus_near" -> minhashCrossOracleSql(),
    "dedup_simhash" -> simhashOracleSql(),
    "dedup_semantic" -> semanticOracleSql(16, 10, 64, 0.995),
    "pipeline_quality_classifier" -> classifierOracleSql(1 << 14, 6),
    "text_bpe_encode" -> bpeEncodeOracleSql(200),
    "text_token_fertility" -> bpeFertilityOracleSql(200),
    "text_unigram_tokens" -> unigramOracleSql(
      nVocab = 48, maxPieceLen = 4, seedSize = 64, iters = 2, maxWordLen = 12),
    "ann_ivf_topk" -> ivfTopKOracleSql(16, 10, 10000, 10, 64, 10),
    "ann_pca_topk" -> pcaTopKOracleSql(r = 16, iters = 24, dims = 64,
      k = 10, expand = 24),
    "ann_lsh_topk" -> lshTopKOracleSql(8, 10, 64, 8, 3, 10),
    "ann_pq_topk" -> pqTopKOracleSql(8, 64, 10000, 10, 64, 10, 8),
    "dedup_simjoin_exact" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ws FROM documents),
              s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+3], ' '))) sh FROM w)
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_int,
                CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union
         FROM s a JOIN s b ON b.doc_id > a.doc_id
         WHERE len(a.sh) > 0 AND len(b.sh) > 0
           AND len(list_intersect(a.sh, b.sh)) * 100 >=
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 80
         ORDER BY a, b""",
    "dedup_containment" ->
      """WITH base AS (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                array_to_string(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)[1:25], ' ')
              FROM documents),
              w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ws FROM base),
              s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+3], ' '))) sh FROM w)
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_int,
                CAST(len(a.sh) AS BIGINT) AS n_a
         FROM s a JOIN s b ON a.doc_id <> b.doc_id
         WHERE len(a.sh) > 0 AND len(b.sh) > 0
           AND len(list_intersect(a.sh, b.sh)) * 100 >= 90 * len(a.sh)
         ORDER BY a, b""",
    "events_transitions" ->
      """WITH t AS (SELECT event_type,
                lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
              FROM events)
         SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
         FROM t WHERE next_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY from_type, to_type""",
    "events_top_paths" ->
      """WITH o AS (SELECT event_type, ts,
                lead(event_type, 1) OVER w AS t2,
                lead(event_type, 2) OVER w AS t3,
                lead(ts, 1) OVER w AS ts2,
                lead(ts, 2) OVER w AS ts3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_type || '>' || t2 || '>' || t3 AS path,
                CAST(count(*) AS BIGINT) AS n
         FROM o
         WHERE t3 IS NOT NULL
           AND ts2 <= ts + INTERVAL 30 MINUTE
           AND ts3 <= ts2 + INTERVAL 30 MINUTE
         GROUP BY 1 ORDER BY n DESC, path LIMIT 15""",
    "events_attribution_position" ->
      """WITH v AS (SELECT user_id, ts, event_id,
                      CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS campaign
                    FROM events WHERE event_type = 'view'),
              p AS (SELECT user_id, ts, event_id,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                    FROM events WHERE event_type = 'purchase'),
              t AS (SELECT p.event_id AS pid, p.cents, v.campaign,
                      row_number() OVER (PARTITION BY p.event_id
                                         ORDER BY v.ts, v.event_id) AS i,
                      count(*) OVER (PARTITION BY p.event_id) AS m
                    FROM p JOIN v ON v.user_id = p.user_id
                      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 7 DAY),
              sh AS (SELECT pid, cents, campaign,
                       CASE WHEN m = 1 THEN 1000000
                            WHEN m = 2 THEN 500000
                            WHEN i = 1 THEN 400000 + 200000 % (m - 2)
                            WHEN i = m THEN 400000
                            ELSE 200000 // (m - 2) END AS share_ppm
                     FROM t),
              alloc AS (SELECT campaign, cents * share_ppm AS micros FROM sh
                        UNION ALL
                        SELECT CAST(NULL AS BIGINT) AS campaign,
                               cents * 1000000 AS micros
                        FROM p WHERE NOT EXISTS (
                          SELECT 1 FROM t WHERE t.pid = p.event_id))
         SELECT campaign, CAST(count(*) AS BIGINT) AS n_touches,
                CAST(sum(micros) AS BIGINT) AS attributed_micros
         FROM alloc GROUP BY campaign ORDER BY campaign NULLS FIRST""",
    "events_markov_attribution" -> markovAttributionOracleSql(16),
    "events_burstiness" ->
      """WITH g AS (SELECT user_id,
                      epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
                    FROM events),
              m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                      CAST(sum(CAST(gap AS HUGEINT)) AS HUGEINT) AS sg,
                      CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS sgg
                    FROM g WHERE gap IS NOT NULL GROUP BY 1
                    HAVING count(*) >= 4)
         SELECT user_id, n_gaps, CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
                CASE WHEN sqrt(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                       + CAST(sg AS DOUBLE) > 0
                THEN CAST(floor(1000000 *
                  (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                   - CAST(sg AS DOUBLE)) /
                  (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                   + CAST(sg AS DOUBLE))) AS BIGINT)
                ELSE NULL END AS b_ppm
         FROM m ORDER BY user_id""",
    "rel_bootstrap_ci" -> {
      val ts = Seq(424136118829305344L, 848272237658610688L,
        1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
        1152236456152946176L, 1152825534095764608L, 1152909688087595776L,
        1152920207336574720L)
      val wCase = ts.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 9 END")
      s"""WITH li AS (SELECT l_returnflag, l_orderkey * 10 + l_linenumber AS rid,
                        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x
                      FROM lineitem),
              e AS (SELECT l_returnflag, rid, x, t.rep FROM li CROSS JOIN range(0, 64) t(rep)),
              u AS (SELECT l_returnflag, x, rep,
                      CAST('0x' || substr(md5(CAST(rid AS VARCHAR) || ':' || CAST(rep AS VARCHAR)), 1, 15) AS BIGINT) AS u
                    FROM e),
              w AS (SELECT l_returnflag, rep, x, $wCase AS w FROM u),
              r AS (SELECT l_returnflag, rep,
                      CAST(sum(CAST(w AS HUGEINT) * x) // sum(CAST(w AS HUGEINT)) AS BIGINT) AS mean
                    FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
              rk AS (SELECT l_returnflag, mean,
                       row_number() OVER (PARTITION BY l_returnflag ORDER BY mean) AS rn,
                       count(*) OVER (PARTITION BY l_returnflag) AS be
                     FROM r),
              ci AS (SELECT l_returnflag, CAST(max(be) AS BIGINT) AS b_eff,
                       min(CASE WHEN rn = least(1, be) THEN mean END) AS ci_lo_cents,
                       min(CASE WHEN rn = least(64, be) THEN mean END) AS ci_hi_cents
                     FROM rk GROUP BY 1),
              pt AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CAST(x AS HUGEINT)) // count(*) AS BIGINT) AS mean_cents
                     FROM li GROUP BY 1)
         SELECT pt.l_returnflag, pt.n, pt.mean_cents, ci.b_eff,
                CAST(ci.ci_lo_cents AS BIGINT) AS ci_lo_cents,
                CAST(ci.ci_hi_cents AS BIGINT) AS ci_hi_cents
         FROM pt JOIN ci USING (l_returnflag) ORDER BY pt.l_returnflag"""
    },
    "dedup_source_matrix" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ws FROM documents),
              s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+3], ' '))) sh FROM w),
              p AS (SELECT a.doc_id AS a, b.doc_id AS b
                    FROM s a JOIN s b ON b.doc_id > a.doc_id
                    WHERE len(a.sh) > 0 AND len(b.sh) > 0
                      AND len(list_intersect(a.sh, b.sh)) * 100 >=
                          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 60)
         SELECT least(da.source, db.source) AS source_lo,
                greatest(da.source, db.source) AS source_hi,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM p JOIN documents da ON da.doc_id = p.a
                JOIN documents db ON db.doc_id = p.b
         GROUP BY 1, 2 ORDER BY source_lo, source_hi""",
    "rel_ols2" -> {
      def d(c: String) = s"CAST($c AS DOUBLE)"
      val det = s"(${d("n")} * (${d("s11")} * ${d("s22")} - ${d("s12")} * ${d("s12")})" +
        s" - ${d("s1")} * (${d("s1")} * ${d("s22")} - ${d("s12")} * ${d("s2")})" +
        s" + ${d("s2")} * (${d("s1")} * ${d("s12")} - ${d("s11")} * ${d("s2")}))"
      val det0 = s"(${d("sy")} * (${d("s11")} * ${d("s22")} - ${d("s12")} * ${d("s12")})" +
        s" - ${d("s1")} * (${d("s1y")} * ${d("s22")} - ${d("s12")} * ${d("s2y")})" +
        s" + ${d("s2")} * (${d("s1y")} * ${d("s12")} - ${d("s11")} * ${d("s2y")}))"
      val det1 = s"(${d("n")} * (${d("s1y")} * ${d("s22")} - ${d("s12")} * ${d("s2y")})" +
        s" - ${d("sy")} * (${d("s1")} * ${d("s22")} - ${d("s12")} * ${d("s2")})" +
        s" + ${d("s2")} * (${d("s1")} * ${d("s2y")} - ${d("s1y")} * ${d("s2")}))"
      val det2 = s"(${d("n")} * (${d("s11")} * ${d("s2y")} - ${d("s1y")} * ${d("s12")})" +
        s" - ${d("s1")} * (${d("s1")} * ${d("s2y")} - ${d("s1y")} * ${d("s2")})" +
        s" + ${d("sy")} * (${d("s1")} * ${d("s12")} - ${d("s11")} * ${d("s2")}))"
      val sse = s"(${d("syy")} - ($det0 / $det) * ${d("sy")}" +
        s" - ($det1 / $det) * ${d("s1y")} - ($det2 / $det) * ${d("s2y")})"
      val sst = s"(${d("syy")} - ${d("sy")} * ${d("sy")} / ${d("n")})"
      s"""WITH c AS (SELECT l_returnflag,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
           CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x1,
           CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2
         FROM lineitem),
         m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(x1 AS HUGEINT)) AS HUGEINT) AS s1,
           CAST(sum(CAST(x2 AS HUGEINT)) AS HUGEINT) AS s2,
           CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
           CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
           CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
           CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
           CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
           CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         FROM c GROUP BY 1)
         SELECT l_returnflag, n,
           CASE WHEN $det <> 0 THEN CAST(floor(1e6 * $det0 / $det) AS BIGINT) END AS b0_e6,
           CASE WHEN $det <> 0 THEN CAST(floor(1e6 * $det1 / $det) AS BIGINT) END AS b1_e6,
           CASE WHEN $det <> 0 THEN CAST(floor(1e6 * $det2 / $det) AS BIGINT) END AS b2_e6,
           CASE WHEN $det <> 0 AND $sst > 0
                THEN CAST(floor(1000000 * (1 - $sse / $sst)) AS BIGINT) END AS r2_ppm
         FROM m ORDER BY l_returnflag"""
    },
    "rel_correlation" ->
      """WITH c AS (SELECT l_returnflag,
                CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
              FROM lineitem),
              m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
                CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
                CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
              FROM c GROUP BY 1)
         SELECT l_returnflag,
                CAST(floor(1e9 *
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT)
                  AS corr_e9
         FROM m ORDER BY l_returnflag""",
    "dedup_groups" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') t FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 1, 2)), i -> t[i:i+2])) sh FROM n),
         e AS (SELECT a.doc_id a, b.doc_id b FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
               WHERE len(list_intersect(a.sh, b.sh)) * 100 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 55),
         ud AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.id, ud.b FROM reach JOIN ud ON ud.a = reach.r
         )
         SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS group_id
         FROM reach GROUP BY id ORDER BY doc_id""",
    "dedup_representatives" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') t FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 1, 2)), i -> t[i:i+2])) sh FROM n),
         e AS (SELECT a.doc_id a, b.doc_id b FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
               WHERE len(list_intersect(a.sh, b.sh)) * 100 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 55),
         ud AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.id, ud.b FROM reach JOIN ud ON ud.a = reach.r
         ),
         g AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
         SELECT CAST(id AS BIGINT) AS doc_id FROM g WHERE id = group_id ORDER BY doc_id""",
    "dedup_embedding_cosine" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) qv FROM embeddings)
         SELECT a.vec_id AS a, b.vec_id AS b,
                CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS DOUBLE)
                  / (sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE))
                   * sqrt(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
         FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
         ORDER BY a""",
    "emb_knn_accuracy" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) qv FROM embeddings),
              scored AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id, cc.label AS nl,
                       CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(qq.qv, cc.qv), p -> p[1] * p[2])) AS DOUBLE)
                         / (sqrt(CAST(list_sum(list_transform(qq.qv, x -> x * x)) AS DOUBLE))
                          * sqrt(CAST(list_sum(list_transform(cc.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
                FROM q qq JOIN q cc ON cc.vec_id <> qq.vec_id),
              topk AS (SELECT query_id, nl FROM (
                SELECT query_id, nl,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos_scaled DESC, neighbor_id) AS rn
                FROM scored) t WHERE rn <= 10),
              votes AS (SELECT query_id, nl, count(*) AS c FROM topk GROUP BY 1, 2),
              pred AS (SELECT query_id, CAST(nl AS BIGINT) AS predicted FROM (
                SELECT query_id, nl,
                       row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nl) AS rn
                FROM votes) t WHERE rn = 1)
         SELECT e.vec_id, CAST(e.label AS BIGINT) AS label, p.predicted,
                (p.predicted IS NOT NULL AND p.predicted = e.label) AS correct
         FROM embeddings e LEFT JOIN pred p ON p.query_id = e.vec_id
         ORDER BY e.vec_id""",
    "ann_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) qv FROM embeddings),
              scored AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                       CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(qq.qv, cc.qv), p -> p[1] * p[2])) AS DOUBLE)
                         / (sqrt(CAST(list_sum(list_transform(qq.qv, x -> x * x)) AS DOUBLE))
                          * sqrt(CAST(list_sum(list_transform(cc.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
                FROM q qq JOIN q cc ON qq.vec_id < 5 AND cc.vec_id <> qq.vec_id)
         SELECT query_id, rank, neighbor_id, cos_scaled FROM (
           SELECT query_id, neighbor_id, cos_scaled,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_scaled DESC, neighbor_id) AS INT) AS rank
           FROM scored) t
         WHERE rank <= 10
         ORDER BY query_id, rank""",
    // r11 ANN recall gates: the ranked ANN lists are lossy by design, but
    // recall@10 vs the brute-force twin is a deterministic integer on the
    // seed-42 testdata — pinned here as literals, with the family's floor
    // asserted IN the oracle (a pin below the floor would shrink the
    // oracle's row set and fail the gate at authoring time). A re-pin is
    // only ever needed if the driver regenerates testdata with a new seed
    // — which would name itself as exactly these four rows going red.
    // r11: re-pinned to lshTopKExact (the registered, hash-gated variant;
    // mean recall 0.84)
    "ann_lsh_recall" -> annRecallOracleSql(
      Seq(800000L, 1000000L, 900000L, 700000L, 800000L), floorPpm = 700000L),
    "ann_ivf_recall" -> annRecallOracleSql(
      Seq(800000L, 800000L, 1000000L, 800000L, 900000L), floorPpm = 800000L),
    // r11: re-pinned to pqTopKExact (the registered, hash-gated variant;
    // mean recall 0.94)
    "ann_pq_recall" -> annRecallOracleSql(
      Seq(900000L, 900000L, 900000L, 1000000L, 1000000L), floorPpm = 800000L),
    // r12: re-pinned to pcaTopKExact (the registered, hash-gated variant;
    // mean recall 0.94 — the expand=24 shortlist + exact rerank buy back
    // the integer eigenbasis's per-direction noise). Query 0 is the
    // documented near-uniform worst case, at 0.90.
    "ann_pca_recall" -> annRecallOracleSql(
      Seq(900000L, 1000000L, 1000000L, 1000000L, 800000L), floorPpm = 800000L),
    // r14: the Matryoshka audit's pinned finding is the LOW side — an
    // UNTRAINED embedding's 16-dim prefix keeps only 10-30% of the
    // full ranking where PCA's learned r = 16 basis keeps 94%: prefix
    // truncation is only a serving option for MRL-trained models, and
    // this query is the measurement that says so for a given corpus
    "emb_matryoshka_recall" -> annRecallOracleSql(
      Seq(100000L, 200000L, 100000L, 300000L, 200000L), floorPpm = 100000L),
    "text_langid" ->
      """WITH w AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) ws FROM documents),
              c AS (SELECT doc_id,
                      len(list_intersect(ws, ['the','and','of','to','a','in','is','that','it','for'])) en,
                      len(list_intersect(ws, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
                      len(list_intersect(ws, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
                      len(list_intersect(ws, ['el','la','los','y','es','un','una','para','en','que'])) es
                    FROM w)
         SELECT doc_id,
                CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                     WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                     WHEN fr >= es AND fr > 0 THEN 'fr'
                     WHEN es > 0 THEN 'es'
                     ELSE 'und' END AS lang_pred
         FROM c ORDER BY doc_id""",
    "text_gopher_rules" ->
      """WITH w AS (SELECT doc_id, text,
                      list_filter(regexp_split_to_array(lower(text), '\s+'),
                        x -> len(x) > 0) AS ws FROM documents),
              c AS (SELECT doc_id,
                      CAST(coalesce(len(ws), 0) AS BIGINT) AS n_words,
                      CAST(coalesce(list_sum(list_transform(ws, x -> len(x))), 0) AS BIGINT) AS char_total,
                      CAST(coalesce(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))), 0) AS BIGINT) AS n_alpha_words,
                      CAST(coalesce(len(text) - len(replace(text, '#', '')), 0)
                           + coalesce((len(text) - len(replace(text, '...', ''))) // 3, 0) AS BIGINT) AS n_symbols,
                      CAST(coalesce(len(list_intersect(list_distinct(ws),
                        ['the','and','of','to','a','in','is','that','it','for'])), 0) AS BIGINT) AS n_stopword_hits
                    FROM w)
         SELECT doc_id, n_words, char_total, n_alpha_words, n_symbols, n_stopword_hits,
                (n_words >= 20 AND n_words <= 100000) AS ok_wordcount,
                (n_words > 0 AND 3 * n_words <= char_total
                 AND char_total <= 10 * n_words) AS ok_meanlen,
                (10 * n_symbols <= n_words) AS ok_symbols,
                (5 * n_alpha_words >= 4 * n_words) AS ok_alpha,
                (n_stopword_hits >= 2) AS ok_stopwords,
                ((n_words >= 20 AND n_words <= 100000)
                 AND (n_words > 0 AND 3 * n_words <= char_total AND char_total <= 10 * n_words)
                 AND (10 * n_symbols <= n_words)
                 AND (5 * n_alpha_words >= 4 * n_words)
                 AND (n_stopword_hits >= 2)) AS gopher_pass
         FROM c ORDER BY doc_id""",
    "pipeline_score_calibration" ->
      """WITH w AS (SELECT doc_id, source,
                      list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ws
                    FROM documents),
              c AS (SELECT doc_id, source,
                      CAST(len(ws) AS BIGINT) n_words,
                      CAST(len(list_intersect(list_distinct(ws), ['the','and','of','to','a','in','is','that','it','for'])) AS BIGINT) n_stopwords,
                      CAST(len(list_distinct(ws)) AS BIGINT) n_distinct_words
                    FROM w),
              q AS (SELECT doc_id, source,
                      CAST(floor((least(n_words / 100.0, 1.0) * 0.4
                                + least(n_stopwords / 5.0, 1.0) * 0.3
                                + n_distinct_words / greatest(CAST(n_words AS DOUBLE), 1.0) * 0.3) * 1000.0 + 0.5) AS BIGINT) AS quality_score
                    FROM c),
              r AS (SELECT doc_id, source, quality_score,
                      CAST(rank() OVER (PARTITION BY source
                             ORDER BY quality_score NULLS FIRST) AS BIGINT) AS rk,
                      CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
                    FROM q)
         SELECT doc_id, source, quality_score,
                CAST(CASE WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1)
                     ELSE 0 END AS BIGINT) AS pct_ppm
         FROM r ORDER BY doc_id""",
    "text_quality" ->
      """WITH w AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ws,
                      len(text) - len(regexp_replace(text, '[\.,;:!\?]', '', 'g')) np
                    FROM documents),
              c AS (SELECT doc_id,
                      CAST(len(ws) AS BIGINT) n_words, CAST(np AS BIGINT) n_punct,
                      CAST(len(list_intersect(list_distinct(ws), ['the','and','of','to','a','in','is','that','it','for'])) AS BIGINT) n_stopwords,
                      CAST(len(list_distinct(ws)) AS BIGINT) n_distinct_words
                    FROM w)
         SELECT doc_id, n_words, n_punct, n_stopwords, n_distinct_words,
                CAST(floor((least(n_words / 100.0, 1.0) * 0.4
                          + least(n_stopwords / 5.0, 1.0) * 0.3
                          + n_distinct_words / greatest(CAST(n_words AS DOUBLE), 1.0) * 0.3) * 1000.0 + 0.5) AS BIGINT) AS quality_score
         FROM c ORDER BY doc_id""",
    "text_tokens" ->
      """SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
    "text_bpe_roundtrip" ->
      """SELECT doc_id,
                array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                            x -> len(x) > 0), ' ') AS detok
         FROM documents ORDER BY doc_id""",
    "text_len_quantile_sketch" ->
      """SELECT lang,
                CAST(floor(ps[1] * 100 + 0.5) AS BIGINT) AS p25_c,
                CAST(floor(ps[2] * 100 + 0.5) AS BIGINT) AS p50_c,
                CAST(floor(ps[3] * 100 + 0.5) AS BIGINT) AS p75_c,
                CAST(floor(ps[4] * 100 + 0.5) AS BIGINT) AS p90_c
         FROM (SELECT lang,
                      quantile_cont(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                                         x -> len(x) > 0)) AS DOUBLE),
                                    [0.25, 0.5, 0.75, 0.9]) AS ps
               FROM documents GROUP BY lang)
         ORDER BY lang""",
    "text_compress_ratio" ->
      """SELECT doc_id,
                CAST(8 * (16 + doc_id % 32) AS BIGINT) AS n_raw_rep,
                TRUE AS rep_low, TRUE AS junk_band, TRUE AS rep_below_junk
         FROM documents ORDER BY doc_id""",
    "text_nfc_normalize" ->
      """SELECT doc_id,
                nfc_normalize(text || ' caf' || chr(101) || chr(769)) AS norm
         FROM documents ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5
         FROM documents ORDER BY doc_id""",
    "text_redact" ->
      """WITH p AS (SELECT doc_id,
                text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555-010-'
                     || CAST(1000 + doc_id % 9000 AS VARCHAR) AS t
              FROM documents)
         SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                  '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
                  '\b[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}\b', '[PHONE]', 'g') AS redacted
         FROM p ORDER BY doc_id""",
    "text_strip_markup" ->
      """WITH h AS (SELECT doc_id,
                '<html><!-- doc ' || CAST(doc_id AS VARCHAR)
                  || ' --><head><style>p{color:red}</style><script type="text/javascript">var v='
                  || CAST(doc_id AS VARCHAR) || ';</script></head><body><p class="main">'
                  || text
                  || '</p><br>&quot;Q&quot; &amp;amp; &lt;tag&gt;&nbsp;end</body></html>' AS t
              FROM documents)
         SELECT doc_id, trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(
                    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                      '(?s)<!--.*?-->', ' ', 'g'),
                      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                      '<[^>]+>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                    '&nbsp;', ' '), '&amp;', '&'),
                  '[ \t\n\r\f]+', ' ', 'g')) AS clean
         FROM h ORDER BY doc_id""",
    "text_lang_spans" ->
      """WITH t AS (SELECT doc_id, text ||
                CASE WHEN doc_id % 4 = 0
                     THEN chr(10) || 'der und die ist nicht ein mit' ||
                          chr(10) || 'der das und ist'
                     WHEN doc_id % 4 = 1
                     THEN chr(10) || 'le la les et est un' ||
                          chr(10) || 'the and of to is' ||
                          chr(10) || 'le et la pour'
                     ELSE '' END AS t2
              FROM documents),
            l0 AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM t),
            l1 AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS i, ls FROM l0),
            ln AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS line_no, ls[i] AS line FROM l1),
            w AS (SELECT doc_id, line_no,
                list_distinct(list_filter(regexp_split_to_array(lower(line), '\s+'),
                                          x -> len(x) > 0)) AS ws
              FROM ln),
            c AS (SELECT doc_id, line_no,
                len(list_intersect(ws, ['the','and','of','to','a','in','is','that','it','for'])) en,
                len(list_intersect(ws, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
                len(list_intersect(ws, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
                len(list_intersect(ws, ['el','la','los','y','es','un','una','para','en','que'])) es
              FROM w),
            p AS (SELECT doc_id, line_no,
                CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                     WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                     WHEN fr >= es AND fr > 0 THEN 'fr'
                     WHEN es > 0 THEN 'es'
                     ELSE 'und' END AS lang
              FROM c),
            isl AS (SELECT doc_id, line_no, lang,
                line_no - row_number() OVER (PARTITION BY doc_id, lang
                                             ORDER BY line_no) AS grp
              FROM p),
            sp AS (SELECT doc_id, lang, grp,
                CAST(min(line_no) AS BIGINT) AS first_line,
                CAST(max(line_no) AS BIGINT) AS last_line,
                CAST(count(*) AS BIGINT) AS n_lines
              FROM isl GROUP BY 1, 2, 3)
         SELECT doc_id,
                CAST(row_number() OVER (PARTITION BY doc_id
                                        ORDER BY first_line) AS BIGINT) AS span_id,
                lang, first_line, last_line, n_lines
         FROM sp ORDER BY doc_id, span_id""",
    "text_rouge" ->
      """WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> len(x) > 0) AS wr
              FROM documents),
            c AS (SELECT doc_id, wr,
                list_concat(wr[1:20], ['spark', 'spark', 'spark']) AS wc
              FROM w),
            g AS (SELECT doc_id,
                CASE WHEN len(wr) >= 2
                     THEN list_transform(range(1, len(wr)), i -> wr[i] || ' ' || wr[i+1])
                     ELSE [] END AS gr,
                CASE WHEN len(wc) >= 2
                     THEN list_transform(range(1, len(wc)), i -> wc[i] || ' ' || wc[i+1])
                     ELSE [] END AS gc
              FROM c),
            o AS (SELECT doc_id,
                CAST(len(gr) AS BIGINT) AS nr, CAST(len(gc) AS BIGINT) AS nc,
                CAST(coalesce(list_sum(list_transform(list_distinct(gc), g2 ->
                  least(len(list_filter(gc, x -> x = g2)),
                        len(list_filter(gr, x -> x = g2))))), 0) AS BIGINT) AS ov
              FROM g)
         SELECT doc_id, nr AS n_ref_grams, nc AS n_cand_grams,
                CASE WHEN nr + nc > 0 THEN ov END AS overlap_grams,
                CASE WHEN nr > 0 THEN CAST((ov * 1000000) // nr AS BIGINT) END AS rouge_recall_ppm,
                CASE WHEN nc > 0 THEN CAST((ov * 1000000) // nc AS BIGINT) END AS rouge_precision_ppm,
                CASE WHEN nr + nc > 0 THEN CAST((2 * ov * 1000000) // (nr + nc) AS BIGINT) END AS rouge_f1_ppm
         FROM o ORDER BY doc_id""",
    "text_chunks_sentence" ->
      """WITH sent AS (SELECT doc_id,
                replace(replace(replace(text, ' table ', '. '), ' value ', '! '),
                        ' row ', '? ') AS t2
              FROM documents),
            ls AS (SELECT doc_id,
                list_filter(list_transform(
                  regexp_extract_all(t2, '[^.!?]+[.!?]+|[^.!?]+'),
                  x -> trim(x)), x -> len(x) > 0) AS l
              FROM sent),
            nn AS (SELECT doc_id, l, coalesce(len(l), 0) AS n FROM ls),
            ck AS (SELECT doc_id, l, n,
                     unnest(range(0, 1 + (greatest(n - 3, 0) + 1) // 2)) AS k
                   FROM nn WHERE n > 0)
         SELECT doc_id, CAST(k AS INT) AS chunk_id,
                array_to_string(l[k*2 + 1 : k*2 + 3], ' ') AS chunk,
                CAST(least(3, n - k*2) AS BIGINT) AS n_sents,
                CAST(len(array_to_string(l[k*2 + 1 : k*2 + 3], ' ')) AS BIGINT) AS n_chars
         FROM ck
         UNION ALL
         SELECT doc_id, CAST(0 AS INT), NULL, CAST(0 AS BIGINT), NULL
         FROM nn WHERE n = 0
         ORDER BY doc_id, chunk_id""",
    "text_chunks" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS arr FROM documents),
              c AS (SELECT doc_id, greatest(CAST(ceil(len(arr) / 16.0) AS INT), 1) AS n, arr FROM w),
              u AS (SELECT doc_id, CAST(unnest(range(n)) AS INT) AS chunk_id,
                           unnest(list_transform(range(n),
                             i -> array_to_string(arr[i*16+1 : i*16+16], ' '))) AS chunk
                    FROM c)
         SELECT doc_id, chunk_id, chunk, CAST(len(chunk) AS BIGINT) AS n_chars
         FROM u ORDER BY doc_id, chunk_id""",
    "text_chunks_overlap" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS arr FROM documents),
              c AS (SELECT doc_id,
                      CASE WHEN len(arr) <= 16 THEN 1
                           ELSE CAST(ceil((len(arr) - 16) / 8.0) AS INT) + 1 END AS n, arr
                    FROM w),
              u AS (SELECT doc_id, CAST(unnest(range(n)) AS INT) AS chunk_id,
                           unnest(list_transform(range(n),
                             i -> array_to_string(arr[i*8+1 : i*8+16], ' '))) AS chunk
                    FROM c)
         SELECT doc_id, chunk_id, chunk, CAST(len(chunk) AS BIGINT) AS n_chars
         FROM u ORDER BY doc_id, chunk_id""",
    "text_vocab" ->
      """SELECT token, CAST(n AS BIGINT) AS n FROM (
           SELECT token, count(*) AS n FROM (
             SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                    x -> len(x) > 0)) AS token
             FROM documents) u
           GROUP BY token) g
         ORDER BY n DESC, token LIMIT 100""",
    "text_simpson" ->
      """WITH w AS (SELECT doc_id,
                      unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> len(x) > 0)) AS wd
                    FROM documents),
              c AS (SELECT doc_id, wd, CAST(count(*) AS BIGINT) AS n
                    FROM w GROUP BY 1, 2),
              a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nw,
                      CAST(sum(n * (n - 1)) AS BIGINT) AS rep
                    FROM c GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(nw, 0) AS BIGINT) AS n_words,
                CASE WHEN nw >= 2 THEN (rep * 1000000) // (nw * (nw - 1)) END AS simpson_ppm
         FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""",
    "text_word_entropy" ->
      """WITH w AS (SELECT doc_id,
                      unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> len(x) > 0)) AS wd
                    FROM documents),
              c AS (SELECT doc_id, wd, CAST(count(*) AS BIGINT) AS n
                    FROM w GROUP BY 1, 2),
              a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nw,
                      sum(n * (64 * length(printf('%b', n))
                               + (n * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', n)) - 1))
                               - 64)) AS s
                    FROM c GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(nw, 0) AS BIGINT) AS n_words,
                CAST((nw * (64 * length(printf('%b', nw))
                            + (nw * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', nw)) - 1))
                            - 64) - s) // nw AS BIGINT) AS entropy64
         FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""",
    "text_textrank" -> {
      val rounds = (1 to 4).map { i =>
        s"""pr$i AS (SELECT n.node,
           |  CAST(150000 + (850000 * coalesce(s.s, 0)) // 1000000 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum((CAST(p.r AS HUGEINT) * e.w) // d.sw) AS s
           |    FROM edges e JOIN deg d ON e.src = d.src
           |                 JOIN pr${i - 1} p ON p.node = e.src
           |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
           x -> len(x) > 0) AS ws FROM documents),
         g AS (SELECT unnest([ws[i] FOR i IN range(1, len(ws))]) AS w1,
                 unnest([ws[i + 1] FOR i IN range(1, len(ws))]) AS w2
               FROM w),
         fe AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM g
                GROUP BY 1, 2 HAVING count(*) >= 2),
         vid AS (SELECT word, CAST('0x' || substr(md5('tr:' || word), 1, 15) AS BIGINT) AS id
                 FROM (SELECT DISTINCT word FROM (
                   SELECT w1 AS word FROM fe UNION SELECT w2 FROM fe))),
         edges AS (SELECT a.id AS src, b.id AS dst, f.n AS w
                   FROM fe f JOIN vid a ON a.word = f.w1 JOIN vid b ON b.word = f.w2
                   UNION ALL
                   SELECT b.id, a.id, f.n
                   FROM fe f JOIN vid a ON a.word = f.w1 JOIN vid b ON b.word = f.w2),
         nodes AS (SELECT DISTINCT src AS node FROM edges
                   UNION SELECT DISTINCT dst FROM edges),
         deg AS (SELECT src, sum(w) AS sw FROM edges GROUP BY src),
         pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
         $rounds
         SELECT v.word, pr4.r AS rank_ppm
         FROM pr4 JOIN vid v ON v.id = pr4.node
         ORDER BY rank_ppm DESC, word LIMIT 25"""
    },
    "text_pmi" -> {
      def lg(x: String) =
        s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
      s"""WITH w AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> len(x) > 0) AS ws FROM documents),
              g AS (SELECT unnest([ws[i] FOR i IN range(1, len(ws))]) AS w1,
                      unnest([ws[i + 1] FOR i IN range(1, len(ws))]) AS w2
                    FROM w),
              f AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM g GROUP BY 1, 2),
              l AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS na FROM f GROUP BY 1),
              r AS (SELECT w2, CAST(sum(n_ab) AS BIGINT) AS nb FROM f GROUP BY 1),
              t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS nn FROM f)
         SELECT f.w1, f.w2, f.n_ab,
                CAST(${lg("f.n_ab")} + ${lg("t.nn")} - ${lg("l.na")} - ${lg("r.nb")} AS BIGINT) AS pmi64
         FROM f JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
         WHERE f.n_ab >= 5
         ORDER BY pmi64 DESC, f.n_ab DESC, f.w1, f.w2 LIMIT 50"""
    },
    "text_zipf" -> {
      def lg(x: String) =
        s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
      s"""WITH w AS (SELECT source, unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> len(x) > 0)) AS term FROM documents),
              c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
                    FROM w GROUP BY 1, 2),
              rk AS (SELECT source, n,
                       CAST(row_number() OVER (PARTITION BY source
                         ORDER BY n DESC, term) AS BIGINT) AS rank
                     FROM c),
              xy AS (SELECT source,
                       CAST(${lg("rank")} AS HUGEINT) AS x,
                       CAST(${lg("n")} AS HUGEINT) AS y
                     FROM rk WHERE rank <= 50),
              m AS (SELECT source, CAST(count(*) AS HUGEINT) AS m,
                      sum(x) AS sx, sum(y) AS sy,
                      sum(x * y) AS sxy, sum(x * x) AS sxx
                    FROM xy GROUP BY 1 HAVING count(*) >= 2)
         SELECT source, CAST(m AS BIGINT) AS n_terms,
                CAST(floor(CAST(m * sxy - sx * sy AS DOUBLE)
                           / CAST(m * sxx - sx * sx AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                  AS slope_milli
         FROM m ORDER BY source"""
    },
    "text_source_kl" -> {
      def lg(x: String) =
        s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
      s"""WITH w AS (SELECT source, unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> len(x) > 0)) AS term FROM documents),
              c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                    FROM w GROUP BY 1, 2),
              cw AS (SELECT term, CAST(sum(c) AS BIGINT) AS cw FROM c GROUP BY 1),
              tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
              g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(count(*) AS BIGINT) AS n_terms,
                      CAST(sum(c * (${lg("c.c")} - ${lg("cw.cw")})) AS BIGINT) AS s0
                    FROM c JOIN cw USING (term) GROUP BY 1)
         SELECT source, n_tokens, n_terms,
                CAST(((s0 + n_tokens * (${lg("(SELECT t FROM tt)")} - ${lg("n_tokens")})) * 1000)
                     // (64 * n_tokens) AS BIGINT) AS kl_millibits
         FROM g ORDER BY source"""
    },
    "pipeline_luhn_audit" ->
      """WITH p AS (SELECT doc_id,
                      concat_ws(' ', text, 'ref 123456789012 card',
                        list_aggregate(list_transform(range(1, 17),
                          i -> CAST((doc_id * (2*i + 3)) % 10 AS VARCHAR)),
                          'string_agg', '')) AS t
                    FROM documents),
              c AS (SELECT doc_id,
                      list_filter(regexp_extract_all(t, '[0-9]+'),
                        r -> length(r) >= 13 AND length(r) <= 19) AS runs
                    FROM p)
         SELECT doc_id,
                CAST(len(runs) AS BIGINT) AS n_candidates,
                CAST(len(list_filter(runs, r ->
                  list_sum(list_transform(range(1, length(r) + 1), j ->
                    CASE WHEN j % 2 = 0
                      THEN CASE WHEN CAST(substr(r, CAST(length(r) - j + 1 AS INT), 1) AS INT) * 2 > 9
                                THEN CAST(substr(r, CAST(length(r) - j + 1 AS INT), 1) AS INT) * 2 - 9
                                ELSE CAST(substr(r, CAST(length(r) - j + 1 AS INT), 1) AS INT) * 2 END
                      ELSE CAST(substr(r, CAST(length(r) - j + 1 AS INT), 1) AS INT) END))
                  % 10 = 0)) AS BIGINT) AS n_luhn_valid
         FROM c ORDER BY doc_id""",
    "text_novelty" ->
      """WITH pw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> len(x) > 0) AS ws
                     FROM documents WHERE doc_id % 2 = 1),
              pg AS (SELECT doc_id,
                       unnest(list_distinct([array_to_string(ws[i:i+2], ' ')
                                             FOR i IN range(1, greatest(len(ws) - 1, 1))])) AS g
                     FROM pw),
              rw AS (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> len(x) > 0) AS ws
                     FROM documents WHERE doc_id % 2 = 0),
              rg AS (SELECT DISTINCT unnest([array_to_string(ws[i:i+2], ' ')
                                             FOR i IN range(1, greatest(len(ws) - 1, 1))]) AS g
                     FROM rw),
              c AS (SELECT pg.doc_id,
                      CAST(count(*) AS BIGINT) AS n_grams,
                      CAST(sum(CASE WHEN rg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
                    FROM pg LEFT JOIN rg ON pg.g = rg.g GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(c.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(c.n_unseen, 0) AS BIGINT) AS n_unseen,
                CAST(c.n_unseen * 1000000 // c.n_grams AS BIGINT) AS novelty_ppm
         FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         LEFT JOIN c USING (doc_id) ORDER BY d.doc_id""",
    "pipeline_pack_chop" ->
      """WITH t AS (SELECT doc_id,
                      CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                        x -> len(x) > 0)) AS BIGINT) AS n
                    FROM documents),
              o AS (SELECT doc_id, n,
                      CAST(coalesce(sum(n) OVER (ORDER BY
                        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1024,
                        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                        doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gs
                    FROM t WHERE n > 0),
              p AS (SELECT doc_id, n, gs, unnest(range(gs // 256, (gs + n - 1) // 256 + 1)) AS bin
                    FROM o)
         SELECT CAST(bin AS BIGINT) AS bin, doc_id,
                CAST(greatest(bin * 256, gs) - gs AS BIGINT) AS doc_offset,
                CAST(greatest(bin * 256, gs) - bin * 256 AS BIGINT) AS bin_offset,
                CAST(least((bin + 1) * 256, gs + n) - greatest(bin * 256, gs) AS BIGINT) AS piece_len
         FROM p ORDER BY bin, bin_offset""",
    "src_avro_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents GROUP BY lang ORDER BY lang""",
    "src_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents GROUP BY lang ORDER BY lang""",
    "pipeline_join_delta" ->
      """WITH a AS (SELECT o_orderkey AS k, o_custkey FROM orders),
              b AS (SELECT l_orderkey AS k, l_linenumber FROM lineitem)
         SELECT k, o_custkey, l_linenumber FROM a JOIN b USING (k)
         EXCEPT ALL
         SELECT k, o_custkey, l_linenumber
         FROM (SELECT * FROM a WHERE k % 7 <> 0) ao
         JOIN (SELECT * FROM b WHERE k % 5 <> 0) bo USING (k)
         ORDER BY k, l_linenumber""",
    "pipeline_fd_audit" -> (Seq(
      ("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus"),
      ("o_orderkey", "o_orderstatus")).map { case (det, dep) =>
      s"""SELECT '$det' AS determinant, '$dep' AS dependent,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
         |       CAST((sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS violation_ppm,
         |       CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT) AS holds
         |FROM (SELECT $det, count(DISTINCT $dep) AS nd FROM orders GROUP BY 1)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY determinant, dependent")),
    "rel_topn_other" ->
      """WITH c AS (SELECT CAST(o_custkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS n
                    FROM orders GROUP BY 1),
              top AS (SELECT k FROM c WHERE k IS NOT NULL ORDER BY n DESC, k LIMIT 5),
              t AS (SELECT CASE WHEN top.k IS NOT NULL THEN c.k ELSE 'OTHER' END AS bucket, c.n
                    FROM c LEFT JOIN top ON c.k = top.k),
              a AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_keys,
                      CAST(sum(n) AS BIGINT) AS n FROM t GROUP BY 1),
              tot AS (SELECT sum(n) AS tt FROM c)
         SELECT bucket, n_keys, n,
                CAST((CAST(n AS HUGEINT) * 1000000) // tt AS BIGINT) AS share_ppm
         FROM a, tot ORDER BY n DESC, bucket""",
    "pipeline_shuffle_shards" ->
      """WITH h AS (SELECT doc_id,
                      CAST('0x' || substr(md5('shuf:1:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                    FROM documents)
         SELECT doc_id, hv % 16 AS shard,
                CAST(row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) AS BIGINT) AS pos
         FROM h ORDER BY shard, pos""",
    "pipeline_skew_audit" ->
      """WITH pk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                     FROM events WHERE user_id IS NOT NULL GROUP BY 1),
              coc AS (SELECT n, CAST(count(*) AS BIGINT) AS m FROM pk GROUP BY 1),
              w AS (SELECT n, m,
                      coalesce(sum(m) OVER (ORDER BY n
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
                      coalesce(sum(m) OVER (ORDER BY n DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
                    FROM coc),
              a AS (SELECT sum(m) AS kk, sum(n * m) AS s,
                      sum(CAST(n AS HUGEINT) *
                          (CAST(m AS HUGEINT) * p + CAST(m AS HUGEINT) * (m + 1) // 2)) AS ranksum,
                      max(n) AS mx,
                      sum(n * greatest(0, least(m, 10 - cp))) AS st
                    FROM w)
         SELECT CAST(kk AS BIGINT) AS n_keys, CAST(s AS BIGINT) AS n_rows,
                CAST(mx AS BIGINT) AS max_n,
                CAST((CAST(st AS HUGEINT) * 1000000) // s AS BIGINT) AS top_share_ppm,
                CAST((2 * ranksum * 1000000 - (CAST(kk AS HUGEINT) + 1) * s * 1000000)
                     // (CAST(kk AS HUGEINT) * s) AS BIGINT) AS gini_ppm
         FROM a WHERE kk IS NOT NULL""",
    "text_decontam" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              bw AS (SELECT ws[1:16] AS ws FROM w WHERE doc_id % 25 = 0),
              tg AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 8
                       THEN list_transform(range(len(ws) - 7), i -> array_to_string(ws[i+1:i+8], ' '))
                       ELSE [] END)) AS gram FROM w),
              bg AS (SELECT DISTINCT gram FROM (
                       SELECT unnest(CASE WHEN len(ws) >= 8
                         THEN list_transform(range(len(ws) - 7), i -> array_to_string(ws[i+1:i+8], ' '))
                         ELSE [] END) AS gram FROM bw) x)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         FROM tg JOIN bg USING (gram)
         GROUP BY doc_id ORDER BY doc_id""",
    "text_decontam_runs" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              bw AS (SELECT ws[1:16] AS ws FROM w WHERE doc_id % 25 = 0),
              tg AS (SELECT doc_id, u.s.pos AS pos, u.s.gram AS gram FROM (
                       SELECT doc_id, unnest(list_transform(range(len(ws) - 7),
                         i -> {'pos': i, 'gram': array_to_string(ws[i+1:i+8], ' ')})) AS s
                       FROM w WHERE len(ws) >= 8) u),
              bg AS (SELECT DISTINCT gram FROM (
                       SELECT unnest(CASE WHEN len(ws) >= 8
                         THEN list_transform(range(len(ws) - 7), i -> array_to_string(ws[i+1:i+8], ' '))
                         ELSE [] END) AS gram FROM bw) x),
              m AS (SELECT doc_id, pos FROM tg JOIN bg USING (gram)),
              r AS (SELECT doc_id, pos,
                      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                    FROM m),
              runs AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run,
                         CAST(min(pos) AS BIGINT) AS strt
                       FROM r GROUP BY 1, 2),
              agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
                        CAST(sum(run) AS BIGINT) AS n_matched
                      FROM runs GROUP BY 1),
              best AS (SELECT doc_id, run AS max_run, strt AS max_run_start FROM (
                         SELECT doc_id, run, strt,
                           row_number() OVER (PARTITION BY doc_id ORDER BY run DESC, strt) AS rn
                         FROM runs) WHERE rn = 1)
         SELECT agg.doc_id, n_runs, n_matched, max_run, max_run_start
         FROM agg JOIN best USING (doc_id) ORDER BY doc_id""",
    "pipeline_mix_plan" ->
      """WITH tok AS (SELECT source,
                        CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                          x -> len(x) > 0))) AS BIGINT) AS av
                      FROM documents GROUP BY 1),
              w AS (SELECT * FROM (VALUES ('src0', 400000), ('src1', 300000),
                      ('src2', 200000), ('src3', 100000)) t(source, target_ppm)),
              base AS (SELECT w.source, CAST(w.target_ppm AS BIGINT) AS target_ppm,
                         CAST(coalesce(tok.av, 0) AS BIGINT) AS avail_tokens,
                         CAST(coalesce(tok.av, 0) * 2 AS BIGINT) AS cap
                       FROM w LEFT JOIN tok USING (source)),
              st AS (SELECT *,
                       coalesce(sum(CAST(cap AS HUGEINT)) OVER obefore, 0) AS pc,
                       coalesce(sum(CAST(target_ppm AS HUGEINT)) OVER obefore, 0) AS pw
                     FROM base
                     WINDOW obefore AS (ORDER BY cap // target_ppm,
                       ((cap % target_ppm) * 1000000000000) // target_ppm, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              fl AS (SELECT *, CAST(cap AS HUGEINT) * (1000000 - pw) <=
                       (9000 - pc) * CAST(target_ppm AS HUGEINT) AS saturated
                     FROM st),
              agg AS (SELECT
                        coalesce(sum(CASE WHEN saturated THEN CAST(cap AS HUGEINT) ELSE 0 END), 0) AS csat,
                        coalesce(sum(CASE WHEN saturated THEN target_ppm ELSE 0 END), 0) AS wsat
                      FROM fl),
              al AS (SELECT fl.source, fl.avail_tokens, fl.target_ppm,
                       fl.cap AS capacity_tokens, fl.saturated,
                       CASE WHEN fl.saturated THEN CAST(fl.cap AS HUGEINT)
                            ELSE (CAST(fl.target_ppm AS HUGEINT) * (9000 - agg.csat))
                                 // (1000000 - agg.wsat) END AS alloc
                     FROM fl CROSS JOIN agg)
         SELECT source, avail_tokens, target_ppm, capacity_tokens, saturated,
                CAST(alloc AS BIGINT) AS alloc_tokens,
                CASE WHEN avail_tokens > 0
                     THEN CAST((alloc * 1000) // avail_tokens AS BIGINT) END AS epochs_milli,
                CAST((alloc * 1000000) // 9000 AS BIGINT) AS achieved_ppm
         FROM al ORDER BY source""",
    "text_decontam_batch" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              ba AS (SELECT 'benchA' AS benchmark, ws[1:16] AS ws FROM w WHERE doc_id % 25 = 0
                     UNION ALL
                     SELECT 'benchB', ws[5:20] FROM w WHERE doc_id % 40 = 0),
              tg AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 8
                       THEN list_transform(range(len(ws) - 7), i -> array_to_string(ws[i+1:i+8], ' '))
                       ELSE [] END)) AS gram FROM w),
              bg AS (SELECT DISTINCT benchmark, gram FROM (
                       SELECT benchmark, unnest(CASE WHEN len(ws) >= 8
                         THEN list_transform(range(len(ws) - 7), i -> array_to_string(ws[i+1:i+8], ' '))
                         ELSE [] END) AS gram FROM ba) x)
         SELECT doc_id, benchmark, CAST(count(*) AS BIGINT) AS n_overlap
         FROM tg JOIN bg USING (gram)
         GROUP BY 1, 2 ORDER BY doc_id, benchmark""",
    "pipeline_split" ->
      """SELECT split, CAST(count(*) AS BIGINT) AS n, CAST(min(doc_id) AS BIGINT) AS min_id FROM (
           SELECT doc_id,
                  CASE WHEN b <= 13 THEN 'train' WHEN b = 14 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id,
                   strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS b
                 FROM documents) t) u
         GROUP BY split ORDER BY split""",
    "pipeline_robots_gate" ->
      """WITH u AS (SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN source || '.example.com'
                            ELSE source || '.org' END AS domain,
                       CASE WHEN doc_id % 3 = 0 THEN '/docs/' || doc_id
                            ELSE '/p/' || doc_id END AS path,
                       substr(source, 4) AS k
                FROM documents),
            v AS (SELECT doc_id, domain, path,
                    CASE WHEN doc_id % 3 <> 0 THEN
                      CASE WHEN starts_with(path, '/p/' || k || '7')
                             THEN '/p/' || k || '7'
                           WHEN starts_with(path, '/p/' || k)
                             THEN '/p/' || k END
                    ELSE
                      CASE WHEN path = '/docs/12' THEN '/docs/12$'
                           WHEN starts_with(path, '/docs/1') THEN '/docs/1' END
                    END AS rule,
                    CASE WHEN doc_id % 3 <> 0 THEN
                      CASE WHEN starts_with(path, '/p/' || k || '7') THEN true
                           WHEN starts_with(path, '/p/' || k) THEN false
                           ELSE true END
                    ELSE
                      CASE WHEN path = '/docs/12' THEN true
                           WHEN starts_with(path, '/docs/1') THEN false
                           ELSE true END
                    END AS allowed
                FROM u)
         SELECT doc_id, domain, path, allowed, rule
         FROM v ORDER BY doc_id""",
    "pipeline_url_gate" ->
      """WITH u AS (SELECT doc_id,
                CASE WHEN doc_id % 3 = 0
                  THEN 'https://www.' || source || '.example.com:8080/docs/' || CAST(doc_id AS VARCHAR) || '?ref=crawl#top'
                  ELSE 'http://' || source || '.org/p/' || CAST(doc_id AS VARCHAR) END AS url
              FROM documents),
              p AS (SELECT doc_id,
                lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^.*@', '') AS host,
                regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
                regexp_extract(url, '^[^#]*?\?([^#]*)', 1) AS q
              FROM u),
              d AS (SELECT doc_id, scheme, path, q,
                regexp_replace(regexp_replace(lower(host), '^www\.', ''), ':[0-9]+$', '') AS domain
              FROM p),
              v AS (SELECT doc_id, domain,
                CASE WHEN domain IN ('src3.example.com', 'src7.org') THEN 'blocked_domain'
                     WHEN contains(lower(path || '?' || q), '/docs/13')
                       OR contains(lower(path || '?' || q), 'ref=spam') THEN 'banned_path'
                     WHEN scheme NOT IN ('http', 'https') THEN 'non_http' END AS reject_reason
              FROM d)
         SELECT doc_id, domain, reject_reason, (reject_reason IS NULL) AS keep
         FROM v ORDER BY doc_id""",
    "pipeline_domain_stats" ->
      """WITH u AS (SELECT doc_id,
                CASE WHEN doc_id % 3 = 0
                  THEN 'https://www.' || source || '.example.com:8080/docs/' || CAST(doc_id AS VARCHAR) || '?ref=crawl#top'
                  ELSE 'http://' || source || '.org/p/' || CAST(doc_id AS VARCHAR) END AS url
              FROM documents),
              p AS (SELECT doc_id,
                lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^.*@', '') AS host,
                regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
              FROM u),
              d AS (SELECT doc_id, scheme, path,
                regexp_replace(regexp_replace(lower(host), '^www\.', ''), ':[0-9]+$', '') AS domain
              FROM p)
         SELECT scheme, domain, CAST(count(*) AS BIGINT) AS n_docs, min(path) AS min_path
         FROM d GROUP BY 1, 2 ORDER BY scheme, domain""",
    "text_script_profile" ->
      """WITH pl AS (SELECT doc_id, text ||
                CASE WHEN doc_id % 4 = 0 THEN ' привет мир'
                     WHEN doc_id % 4 = 1 THEN ' 你好世界 こんにちは'
                     WHEN doc_id % 4 = 2 THEN ' مرحبا بالعالم'
                     ELSE '' END AS t FROM documents),
              c AS (SELECT doc_id,
                CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
                CAST(length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
                CAST(length(t) - length(regexp_replace(t, '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]', '', 'g')) AS BIGINT) AS n_cjk,
                CAST(length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
                CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
              FROM pl)
         SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, n_digit,
                CASE WHEN n_latin >= greatest(n_cyrillic, n_cjk, n_arabic) AND n_latin > 0 THEN 'latin'
                     WHEN n_cyrillic >= greatest(n_cjk, n_arabic) AND n_cyrillic > 0 THEN 'cyrillic'
                     WHEN n_cjk >= n_arabic AND n_cjk > 0 THEN 'cjk'
                     WHEN n_arabic > 0 THEN 'arabic'
                     ELSE 'none' END AS dominant
         FROM c ORDER BY doc_id""",
    "pipeline_url_dedup" ->
      """WITH u AS (SELECT doc_id,
                'https://www.' || source || '.example.com:8080/p/' || CAST(doc_id % 400 AS VARCHAR)
                  || '?session=' || CAST(doc_id AS VARCHAR) AS url
              FROM documents),
              p AS (SELECT doc_id,
                regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^.*@', '') AS host,
                regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
              FROM u),
              c AS (SELECT doc_id,
                regexp_replace(regexp_replace(lower(host), '^www\.', ''), ':[0-9]+$', '') || path AS canonical
              FROM p)
         SELECT doc_id, canonical,
                doc_id <> min(doc_id) OVER (PARTITION BY canonical) AS is_duplicate
         FROM c ORDER BY doc_id""",
    "pipeline_group_split" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') t FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 1, 2)), i -> t[i:i+2])) sh FROM n),
         e AS (SELECT a.doc_id a, b.doc_id b FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
               WHERE len(list_intersect(a.sh, b.sh)) * 100 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 55),
         ud AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.id, ud.b FROM reach JOIN ud ON ud.a = reach.r
         ),
         g AS (SELECT id AS doc_id, min(r) AS group_key FROM reach GROUP BY id),
         f AS (SELECT doc_id, group_key,
                 CASE WHEN bk <= 13 THEN 'train' WHEN bk = 14 THEN 'val' ELSE 'test' END AS split
               FROM (SELECT doc_id, group_key,
                       strpos('0123456789abcdef', substr(md5(CAST(group_key AS VARCHAR)), 1, 1)) - 1 AS bk
                     FROM g) t)
         SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT group_key) AS BIGINT) AS n_groups
         FROM f GROUP BY split ORDER BY split""",
    "text_packing" ->
      """WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
                      CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> len(x) > 0)) AS BIGINT) AS n_tokens
                    FROM documents),
              c AS (SELECT doc_id, shard, n_tokens,
                      sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS s
                    FROM t)
         SELECT doc_id, shard, n_tokens,
                CAST(floor(s / 256.0) AS BIGINT) AS pack_id,
                CAST(s % 256 AS BIGINT) AS offset_tokens
         FROM c ORDER BY doc_id""",
    "pipeline_token_yield" ->
      """WITH w AS (SELECT doc_id, source, lang,
                md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h,
                list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> len(x) > 0) AS ws
              FROM documents),
            q AS (SELECT doc_id, source, lang, h,
                CAST(len(ws) AS BIGINT) AS n_words,
                CAST(len(list_intersect(list_distinct(ws), ['the','and','of','to','a','in','is','that','it','for'])) AS BIGINT) AS n_stop,
                CAST(len(list_distinct(ws)) AS BIGINT) AS n_dist
              FROM w),
            sc AS (SELECT doc_id, source, lang, h, n_words,
                CAST(floor((least(n_words / 100.0, 1.0) * 0.4
                          + least(n_stop / 5.0, 1.0) * 0.3
                          + n_dist / greatest(CAST(n_words AS DOUBLE), 1.0) * 0.3) * 1000.0 + 0.5) AS BIGINT) AS score,
                doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_dup
              FROM q),
            med AS (SELECT lang, quantile_cont(score, 0.5) AS p50 FROM sc GROUP BY lang),
            k AS (SELECT sc.*, (NOT is_dup AND score >= med.p50) AS kept
                  FROM sc JOIN med ON med.lang = sc.lang)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_words) AS BIGINT) AS raw_tokens,
                CAST(sum(CASE WHEN NOT is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                CAST(sum(CASE WHEN NOT is_dup THEN n_words ELSE 0 END) AS BIGINT) AS unique_tokens,
                CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN kept THEN n_words ELSE 0 END) AS BIGINT) AS kept_tokens,
                CAST((sum(CASE WHEN kept THEN n_words ELSE 0 END) * 1000000)
                     // sum(n_words) AS BIGINT) AS yield_ppm
         FROM k GROUP BY source ORDER BY source""",
    "text_quality_filter" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              q AS (SELECT doc_id, ws,
                      CAST(len(ws) AS BIGINT) n_words,
                      CAST(len(list_intersect(list_distinct(ws), ['the','and','of','to','a','in','is','that','it','for'])) AS BIGINT) n_stopwords,
                      CAST(len(list_distinct(ws)) AS BIGINT) n_distinct_words
                    FROM w),
              sc AS (SELECT doc_id, ws,
                      CAST(floor((least(n_words / 100.0, 1.0) * 0.4
                                + least(n_stopwords / 5.0, 1.0) * 0.3
                                + n_distinct_words / greatest(CAST(n_words AS DOUBLE), 1.0) * 0.3) * 1000.0 + 0.5) AS BIGINT) AS quality_score
                     FROM q),
              lg AS (SELECT doc_id, quality_score,
                       CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                            WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                            WHEN fr >= es AND fr > 0 THEN 'fr'
                            WHEN es > 0 THEN 'es' ELSE 'und' END AS lang
                     FROM (SELECT doc_id, quality_score,
                             len(list_intersect(list_distinct(ws), ['the','and','of','to','a','in','is','that','it','for'])) en,
                             len(list_intersect(list_distinct(ws), ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
                             len(list_intersect(list_distinct(ws), ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
                             len(list_intersect(list_distinct(ws), ['el','la','los','y','es','un','una','para','en','que'])) es
                           FROM sc) x),
              med AS (SELECT lang, quantile_cont(quality_score, 0.5) AS p50 FROM lg GROUP BY lang)
         SELECT lg.doc_id, lg.lang, lg.quality_score
         FROM lg JOIN med ON med.lang = lg.lang
         WHERE lg.quality_score >= med.p50
         ORDER BY doc_id""",
    "dedup_crosscorpus" ->
      """SELECT f.doc_id, f.lang FROM documents f
         WHERE f.doc_id % 5 <> 0 AND NOT EXISTS (
           SELECT 1 FROM documents r WHERE r.doc_id % 5 = 0
             AND md5(regexp_replace(lower(r.text), '\s+', ' ', 'g'))
               = md5(regexp_replace(lower(f.text), '\s+', ' ', 'g')))
         ORDER BY f.doc_id""",
    "dedup_bloom_gate" ->
      """SELECT f.doc_id, f.lang FROM documents f
         WHERE f.doc_id % 3 <> 0 AND NOT EXISTS (
           SELECT 1 FROM documents r WHERE r.doc_id % 3 = 0
             AND md5(regexp_replace(lower(r.text), '\s+', ' ', 'g'))
               = md5(regexp_replace(lower(f.text), '\s+', ' ', 'g')))
         ORDER BY f.doc_id""",
    "pipeline_drift" ->
      """WITH tok AS (SELECT doc_id,
                 CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                      x -> len(x) > 0)) AS BIGINT) AS n
               FROM documents),
              -- NULL metric rows are excluded from counts AND denominators
              -- (the drift() contract)
              bn AS (SELECT doc_id, CAST(least(9, greatest(0, n * 10 // 500)) AS INT) AS bin
                     FROM tok WHERE n IS NOT NULL),
              ha AS (SELECT bin, count(*) AS n_a FROM bn WHERE doc_id % 2 = 0 GROUP BY bin),
              hb AS (SELECT bin, count(*) AS n_b FROM bn WHERE doc_id % 2 = 1 GROUP BY bin),
              bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
              t AS (SELECT greatest(1, (SELECT count(*) FROM bn WHERE doc_id % 2 = 0)) AS ta,
                           greatest(1, (SELECT count(*) FROM bn WHERE doc_id % 2 = 1)) AS tb)
         SELECT bins.bin,
                CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
                CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
                CAST(coalesce(n_a, 0) * 1000000 // t.ta AS BIGINT) AS ppm_a,
                CAST(coalesce(n_b, 0) * 1000000 // t.tb AS BIGINT) AS ppm_b
         FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin) CROSS JOIN t
         ORDER BY bin""",
    "pipeline_js_drift" -> {
      def lg(x: String) =
        s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
      s"""WITH tok AS (SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                       x -> len(x) > 0)) AS BIGINT) AS n
                FROM documents),
               bn AS (SELECT doc_id, CAST(least(9, greatest(0, n * 10 // 500)) AS INT) AS bin
                      FROM tok WHERE n IS NOT NULL),
               ha AS (SELECT bin, count(*) AS n_a FROM bn WHERE doc_id % 2 = 0 GROUP BY bin),
               hb AS (SELECT bin, count(*) AS n_b FROM bn WHERE doc_id % 2 = 1 GROUP BY bin),
               bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
               t AS (SELECT greatest(1, (SELECT count(*) FROM bn WHERE doc_id % 2 = 0)) AS ta,
                            greatest(1, (SELECT count(*) FROM bn WHERE doc_id % 2 = 1)) AS tb),
               d AS (SELECT bins.bin,
                       CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
                       CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
                       CAST(coalesce(n_a, 0) * 1000000 // t.ta AS BIGINT) AS ppm_a,
                       CAST(coalesce(n_b, 0) * 1000000 // t.tb AS BIGINT) AS ppm_b
                     FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin) CROSS JOIN t),
               e AS (SELECT n_a, n_b, ppm_a, ppm_b,
                       greatest(1, ppm_a) AS pa, greatest(1, ppm_b) AS pb FROM d)
          SELECT CAST(sum(n_a) AS BIGINT) AS n_a, CAST(sum(n_b) AS BIGINT) AS n_b,
                 CAST(greatest(0, sum(ppm_a * (${lg("2 * pa")} - ${lg("pa + pb")})
                        + ppm_b * (${lg("2 * pb")} - ${lg("pa + pb")})))
                      * 1000 // (2 * 64 * 1000000) AS BIGINT) AS js_millibits
          FROM e"""
    },
    "pipeline_psi" -> {
      def lg(x: String) =
        s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
      s"""WITH tok AS (SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                       x -> len(x) > 0)) AS BIGINT) AS n
                FROM documents),
               bn AS (SELECT doc_id, CAST(least(9, greatest(0, n * 10 // 500)) AS INT) AS bin
                      FROM tok WHERE n IS NOT NULL),
               ha AS (SELECT bin, count(*) AS n_a FROM bn WHERE doc_id % 2 = 0 GROUP BY bin),
               hb AS (SELECT bin, count(*) AS n_b FROM bn WHERE doc_id % 2 = 1 GROUP BY bin),
               bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
               t AS (SELECT greatest(1, (SELECT count(*) FROM bn WHERE doc_id % 2 = 0)) AS ta,
                            greatest(1, (SELECT count(*) FROM bn WHERE doc_id % 2 = 1)) AS tb),
               d AS (SELECT bins.bin,
                       CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
                       CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
                       CAST(coalesce(n_a, 0) * 1000000 // t.ta AS BIGINT) AS ppm_a,
                       CAST(coalesce(n_b, 0) * 1000000 // t.tb AS BIGINT) AS ppm_b
                     FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin) CROSS JOIN t)
          SELECT CAST(sum(n_a) AS BIGINT) AS n_a, CAST(sum(n_b) AS BIGINT) AS n_b,
                 CAST(sum((ppm_a - ppm_b) * (${lg("greatest(1, ppm_a)")} - ${lg("greatest(1, ppm_b)")}))
                      * 1000 // (64 * 1000000) AS BIGINT) AS psi_millibits
          FROM d"""
    },
    "pipeline_sample_per_group" ->
      """SELECT lang, CAST(rn AS INT) AS rank, doc_id FROM (
           SELECT lang, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                             doc_id) AS rn
           FROM documents) t
         WHERE rn <= 8
         ORDER BY lang, rank""",
    "pipeline_source_mix" ->
      """WITH w(source, w_ppm) AS (VALUES ('src0', 300000), ('src1', 300000),
                                          ('src2', 200000), ('src3', 200000)),
              n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
              -- LEFT JOIN + coalesce matches sourceMix's infeasible-recipe
              -- semantics: a listed-but-absent source forces total 0
              t AS (SELECT min(coalesce(n.n, 0) * 1000000 // w.w_ppm) AS t
                    FROM w LEFT JOIN n USING (source)),
              cuts AS (SELECT w.source,
                              LEAST(65536, ((w.w_ppm * t.t // 1000000) * 65536) // n.n) AS cut
                       FROM w JOIN n USING (source) CROSS JOIN t)
         SELECT d.doc_id, d.source FROM documents d
         JOIN cuts ON cuts.source = d.source
         WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) < cuts.cut
         ORDER BY d.doc_id""",
    "pipeline_sample_stratified" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS b
           FROM documents) t
         WHERE b < CASE lang WHEN 'en' THEN 128 WHEN 'de' THEN 64 ELSE 32 END
         ORDER BY doc_id""",
    "text_lm_score" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              g0 AS (SELECT doc_id, CASE WHEN len(ws) >= 2
                       THEN list_transform(range(len(ws) - 1), i -> [ws[i+1], ws[i+2]])
                       ELSE [] END AS bgs FROM w),
              gg AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2
                     FROM (SELECT doc_id, unnest(bgs) AS bg FROM g0) u),
              uni AS (SELECT w1, count(*) AS c1 FROM gg GROUP BY w1),
              bi AS (SELECT w1, w2, count(*) AS c2 FROM gg GROUP BY w1, w2),
              sc AS (SELECT doc_id, count(*) AS n_bigrams,
                            sum((1000000 * c2) // c1) AS ppm_sum
                     FROM gg JOIN bi USING (w1, w2) JOIN uni USING (w1)
                     GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(sc.ppm_sum, 0) AS BIGINT) AS ppm_sum,
                CAST(coalesce(sc.ppm_sum // sc.n_bigrams, 0) AS BIGINT) AS lm_ppm
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         ORDER BY d.doc_id""",
    "text_repetition" ->
      """WITH base AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS nc,
                        list_filter(regexp_split_to_array(lower(text), '\s+'),
                          x -> len(x) > 0) AS ws FROM documents),
              g AS (SELECT doc_id, 2 AS n,
                           unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
                    FROM base
                    UNION ALL
                    SELECT doc_id, 3,
                           unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)])
                    FROM base),
              c AS (SELECT doc_id, n, gram, count(*) AS cnt,
                           count(*) * len(gram) AS chars
                    FROM g GROUP BY 1, 2, 3),
              pd AS (SELECT doc_id,
                            max(CASE WHEN n = 2 THEN chars END) AS top2,
                            sum(CASE WHEN n = 3 AND cnt >= 2 THEN chars END) AS dup3
                     FROM c GROUP BY 1)
         SELECT b.doc_id,
                CAST(len(ws) AS BIGINT) AS n_words,
                CAST(CASE WHEN len(ws) > 0
                     THEN (1000000 * (len(ws) - len(list_distinct(ws)))) // len(ws)
                     ELSE 0 END AS BIGINT) AS dup_word_ppm,
                CAST(CASE WHEN nc > 0 THEN coalesce((1000000 * top2) // nc, 0)
                     ELSE 0 END AS BIGINT) AS top_bigram_ppm,
                CAST(CASE WHEN nc > 0 THEN coalesce((1000000 * dup3) // nc, 0)
                     ELSE 0 END AS BIGINT) AS dup_trigram_ppm
         FROM base b LEFT JOIN pd USING (doc_id)
         ORDER BY b.doc_id""",
    "text_dup_ngrams" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              g0 AS (SELECT doc_id, list_distinct(
                       [array_to_string(ws[i : i + 7], ' ') for i in range(1, len(ws) - 6)]) AS gs
                     FROM w),
              g AS (SELECT doc_id, unnest(gs) AS gram FROM g0),
              dc AS (SELECT gram, count(*) AS docs FROM g GROUP BY 1),
              pd AS (SELECT doc_id, count(*) AS n_grams,
                            sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS n_dup
                     FROM g JOIN dc USING (gram) GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_grams,
                CAST(coalesce((1000000 * n_dup) // n_grams, 0) AS BIGINT) AS dup_ngram_ppm
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY d.doc_id""",
    "text_dup_lines" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS arr FROM documents),
              c AS (SELECT doc_id, greatest(CAST(ceil(len(arr) / 8.0) AS INT), 1) AS n, arr FROM w),
              m AS (SELECT doc_id, array_to_string(list_transform(range(n),
                      i -> array_to_string(arr[i*8+1 : i*8+8], ' ')), chr(10)) AS mtext FROM c),
              ls AS (SELECT doc_id, string_split(mtext, chr(10)) AS lst FROM m),
              lines AS (SELECT doc_id, unnest(lst) AS line FROM ls),
              elig AS (SELECT doc_id, line FROM lines WHERE len(line) >= 10 GROUP BY 1, 2),
              dup AS (SELECT line FROM elig GROUP BY line HAVING count(*) >= 2),
              pd AS (SELECT li.doc_id, count(*) AS n_lines,
                            sum(CASE WHEN d.line IS NOT NULL AND len(li.line) >= 10
                                THEN 1 ELSE 0 END) AS n_dup
                     FROM lines li LEFT JOIN dup d ON li.line = d.line GROUP BY 1)
         SELECT doc.doc_id,
                CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
                CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_lines,
                CAST(coalesce((1000000 * n_dup) // n_lines, 0) AS BIGINT) AS dup_line_ppm
         FROM documents doc LEFT JOIN pd ON pd.doc_id = doc.doc_id
         ORDER BY doc.doc_id""",
    "text_line_dedup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS arr FROM documents),
              c AS (SELECT doc_id, greatest(CAST(ceil(len(arr) / 8.0) AS INT), 1) AS n, arr FROM w),
              m AS (SELECT doc_id, array_to_string(list_transform(range(n),
                      i -> array_to_string(arr[i*8+1 : i*8+8], ' ')), chr(10)) AS mtext FROM c),
              ls AS (SELECT doc_id, string_split(mtext, chr(10)) AS lst FROM m),
              lines AS (SELECT doc_id, CAST(unnest(range(len(lst))) AS INT) AS pos,
                               unnest(lst) AS line FROM ls),
              elig AS (SELECT doc_id, line FROM lines WHERE len(line) >= 10 GROUP BY 1, 2),
              dup AS (SELECT line FROM elig GROUP BY line HAVING count(*) >= 2),
              kept AS (SELECT li.doc_id, li.pos, li.line
                       FROM lines li LEFT JOIN dup d ON li.line = d.line
                       WHERE d.line IS NULL OR len(li.line) < 10),
              reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
                      FROM kept GROUP BY 1)
         SELECT doc.doc_id, coalesce(r.clean_text, '') AS clean_text
         FROM documents doc LEFT JOIN reb r ON r.doc_id = doc.doc_id
         ORDER BY doc.doc_id""",
    "text_span_dedup" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              toks AS (SELECT doc_id, CAST(unnest(range(len(ws))) AS INT) AS pos,
                              unnest(ws) AS w FROM w),
              g AS (SELECT doc_id, CAST(unnest(range(len(ws) - 7)) AS INT) AS pos,
                           unnest([array_to_string(ws[i + 1 : i + 8], ' ')
                                   for i in range(len(ws) - 7)]) AS gram FROM w),
              dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
                      GROUP BY gram HAVING count(*) >= 2),
              cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(pos, pos + 8)) AS INT) AS pos
                      FROM g JOIN dup USING (gram)),
              kept AS (SELECT t.doc_id, t.pos, t.w FROM toks t
                       LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
                       WHERE c.doc_id IS NULL),
              reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept,
                             string_agg(w, ' ' ORDER BY pos) AS clean_text
                      FROM kept GROUP BY 1),
              nw AS (SELECT doc_id, CAST(coalesce(len(ws), 0) AS BIGINT) AS n_words FROM w)
         SELECT d.doc_id, nw.n_words,
                CAST(nw.n_words - coalesce(r.kept, 0) AS BIGINT) AS n_removed,
                coalesce(r.clean_text, '') AS clean_text
         FROM documents d JOIN nw USING (doc_id) LEFT JOIN reb r ON r.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "text_c4_clean" -> {
      def wc(l: String) =
        s"len(list_filter(regexp_split_to_array($l, '\\s+'), x -> len(x) > 0))"
      def term(l: String) = s"right($l, 1) IN ('.', '!', '?', '\"')"
      def brace(l: String) = s"contains($l, '{')"
      def js(l: String) = s"contains(lower($l), 'javascript')"
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS arr FROM documents),
              c AS (SELECT doc_id, greatest(CAST(ceil(len(arr) / 8.0) AS INT), 1) AS n, arr FROM w),
              m AS (SELECT doc_id, array_to_string(list_transform(range(n),
                      i -> array_to_string(arr[i*8+1 : i*8+8], ' ')), chr(10)) AS mtext FROM c),
              ls0 AS (SELECT doc_id, string_split(mtext, chr(10)) AS lst FROM m),
              pl AS (SELECT doc_id, [CASE WHEN i = 1 THEN 'tiny line.'
                       WHEN (doc_id + i - 1) % 5 = 0 THEN lst[i] || '.'
                       WHEN (doc_id + i - 1) % 5 = 1 THEN lst[i] || '!'
                       WHEN (doc_id + i - 1) % 5 = 2 THEN lst[i]
                       WHEN (doc_id + i - 1) % 5 = 3 THEN lst[i] || ' { x.'
                       ELSE lst[i] || ' javascript on.' END
                       FOR i IN range(1, len(lst) + 1)] AS plst FROM ls0),
              ls AS (SELECT doc_id, list_filter(list_transform(plst, l -> trim(l)),
                       l -> len(l) > 0) AS ls FROM pl),
              r AS (SELECT doc_id,
                      CAST(len(ls) AS BIGINT) AS n_lines,
                      list_filter(ls, l -> ${wc("l")} >= 5 AND ${term("l")}
                        AND NOT ${brace("l")} AND NOT ${js("l")}) AS kept,
                      CAST(len(list_filter(ls, l -> ${wc("l")} < 5)) AS BIGINT) AS n_short,
                      CAST(len(list_filter(ls, l -> ${wc("l")} >= 5 AND NOT ${term("l")})) AS BIGINT) AS n_punct,
                      CAST(len(list_filter(ls, l -> ${wc("l")} >= 5 AND ${term("l")}
                        AND ${brace("l")})) AS BIGINT) AS n_brace,
                      CAST(len(list_filter(ls, l -> ${wc("l")} >= 5 AND ${term("l")}
                        AND NOT ${brace("l")} AND ${js("l")})) AS BIGINT) AS n_js
                    FROM ls)
         SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
                n_short, n_punct, n_brace, n_js,
                CASE WHEN len(kept) > 0 THEN array_to_string(kept, chr(10)) END AS clean_text
         FROM r ORDER BY doc_id"""
    },
    "text_langid_kappa" ->
      """WITH w AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) ws FROM documents),
              c AS (SELECT doc_id,
                      len(list_intersect(ws, ['the','and','of','to','a','in','is','that','it','for'])) en,
                      len(list_intersect(ws, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) de,
                      len(list_intersect(ws, ['le','la','les','et','est','un','une','pour','dans','que'])) fr,
                      len(list_intersect(ws, ['el','la','los','y','es','un','una','para','en','que'])) es
                    FROM w),
              p AS (SELECT doc_id,
                      CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                           WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                           WHEN fr >= es AND fr > 0 THEN 'fr'
                           WHEN es > 0 THEN 'es'
                           ELSE 'und' END AS pred
                    FROM c),
              j AS (SELECT p.pred AS a, d.lang AS b FROM p JOIN documents d USING (doc_id)
                    WHERE p.pred IS NOT NULL AND d.lang IS NOT NULL),
              cells AS (SELECT a, b, CAST(count(*) AS HUGEINT) AS n FROM j GROUP BY 1, 2),
              ra AS (SELECT a, sum(n) AS ra FROM cells GROUP BY 1),
              cb AS (SELECT b, sum(n) AS cb FROM cells GROUP BY 1),
              pe AS (SELECT coalesce(sum(ra.ra * cb.cb), 0) AS pe
                     FROM ra JOIN cb ON cb.b = ra.a),
              t AS (SELECT sum(n) AS t,
                      coalesce(sum(CASE WHEN a = b THEN n ELSE 0 END), 0) AS agree
                    FROM cells)
         SELECT CAST(t AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
                CASE WHEN t * t - pe = 0 THEN NULL
                     ELSE CAST(((t * agree - pe) * 1000000) // (t * t - pe) AS BIGINT)
                END AS kappa_ppm
         FROM t CROSS JOIN pe""",
    "dedup_threshold_curve" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ws FROM documents),
              s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+3], ' '))) sh FROM w),
              p AS (SELECT a.doc_id AS a, b.doc_id AS b,
                      CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_int,
                      CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union
                    FROM s a JOIN s b ON b.doc_id > a.doc_id
                    WHERE len(a.sh) > 0 AND len(b.sh) > 0
                      AND len(list_intersect(a.sh, b.sh)) * 100 >=
                          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 50),
              th AS (SELECT unnest([50, 60, 70, 80, 90, 100]) AS threshold_pct),
              h AS (SELECT th.threshold_pct, p.a, p.b FROM p JOIN th
                    ON p.n_int * 100 >= th.threshold_pct * p.n_union),
              e AS (SELECT threshold_pct, unnest([a, b]) AS d FROM h)
         SELECT threshold_pct, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
                CAST(count(DISTINCT d) AS BIGINT) AS n_docs
         FROM e GROUP BY 1 ORDER BY 1""",
    "pipeline_dsir_weights" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              tok AS (SELECT doc_id,
                             CAST('0x' || substr(md5(unnest(ws)), 1, 4) AS BIGINT) AS b FROM w),
              cr AS (SELECT b, count(*) AS c FROM tok GROUP BY 1),
              ct AS (SELECT b, count(*) AS c FROM tok JOIN documents USING (doc_id)
                     WHERE source = 'src0' GROUP BY 1),
              model AS (SELECT cr.b,
                               CAST(length(bin(coalesce(ct.c, 0) + 1))
                                    - length(bin(cr.c + 1)) AS BIGINT) AS llr
                        FROM cr LEFT JOIN ct ON ct.b = cr.b),
              pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                            CAST(sum(llr) AS BIGINT) AS dsir_score
                     FROM tok JOIN model USING (b) GROUP BY 1)
         SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
                coalesce(dsir_score, 0) AS dsir_score
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY d.doc_id""",
    "text_heavy_hitters" ->
      """SELECT CAST(rn AS INT) AS rank, token, n FROM (
           SELECT token, CAST(count(*) AS BIGINT) AS n,
                  row_number() OVER (ORDER BY count(*) DESC, token) AS rn
           FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                        x -> len(x) > 0)) AS token FROM documents)
           GROUP BY token)
         WHERE rn <= 256 ORDER BY rank""",
    "sketch_hll_distinct" -> (
      """WITH h AS (SELECT event_type,
                      CAST('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                    FROM events WHERE user_id IS NOT NULL),
              r AS (SELECT event_type, hv // 4503599627370496 AS b,
                      CASE WHEN hv % 4503599627370496 = 0 THEN 53
                           ELSE 53 - length(bin(hv % 4503599627370496)) END AS rk
                    FROM h),
              regs AS (SELECT event_type, b, max(rk) AS reg FROM r GROUP BY 1, 2)
         SELECT event_type,
                CAST(256 - count(*) AS BIGINT) AS v_empty,
                CAST(sum(reg) AS BIGINT) AS reg_sum,
                CAST(CAST('""" + pipeline.Sketches.hllNumConstant(8).toString + """' AS HUGEINT)
                     // ((sum(CAST(1 AS HUGEINT) << (53 - reg))
                          + CAST(256 - count(*) AS HUGEINT) * 9007199254740992) * 1000000)
                     AS BIGINT) AS n_distinct_est
         FROM regs GROUP BY event_type ORDER BY event_type"""),
    "sketch_hll_setops" -> (
      """WITH h AS (SELECT event_type AS g,
                      CAST('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                    FROM events WHERE user_id IS NOT NULL),
              r AS (SELECT g, hv // 4503599627370496 AS b,
                      CASE WHEN hv % 4503599627370496 = 0 THEN 53
                           ELSE 53 - length(bin(hv % 4503599627370496)) END AS rk
                    FROM h),
              regs AS MATERIALIZED (SELECT g, b, max(rk) AS reg FROM r GROUP BY 1, 2),
              est1 AS (SELECT g,
                  CAST(CAST('""" + pipeline.Sketches.hllNumConstant(8).toString + """' AS HUGEINT)
                       // ((sum(CAST(1 AS HUGEINT) << (53 - reg))
                            + CAST(256 - count(*) AS HUGEINT) * 9007199254740992) * 1000000)
                       AS BIGINT) AS est
                FROM regs GROUP BY g),
              gg AS (SELECT DISTINCT g FROM regs),
              pairs AS (SELECT x.g AS ga, y.g AS gb FROM gg x JOIN gg y ON x.g < y.g),
              uregs AS (SELECT p.ga, p.gb, regs.b, max(regs.reg) AS reg
                        FROM pairs p JOIN regs ON regs.g = p.ga OR regs.g = p.gb
                        GROUP BY 1, 2, 3),
              estu AS (SELECT ga, gb,
                  CAST(CAST('""" + pipeline.Sketches.hllNumConstant(8).toString + """' AS HUGEINT)
                       // ((sum(CAST(1 AS HUGEINT) << (53 - reg))
                            + CAST(256 - count(*) AS HUGEINT) * 9007199254740992) * 1000000)
                       AS BIGINT) AS est_union
                FROM uregs GROUP BY 1, 2)
         SELECT u.ga AS group_a, u.gb AS group_b,
                a.est AS est_a, bb.est AS est_b, u.est_union,
                greatest(a.est + bb.est - u.est_union, 0) AS est_intersect,
                CAST((greatest(a.est + bb.est - u.est_union, 0) * 1000000)
                     // u.est_union AS BIGINT) AS overlap_ppm
         FROM estu u JOIN est1 a ON a.g = u.ga JOIN est1 bb ON bb.g = u.gb
         ORDER BY group_a, group_b"""),
    "sketch_cms_freq" ->
      """WITH v AS (SELECT user_id AS vv FROM events WHERE user_id IS NOT NULL),
              c AS (SELECT t.r AS r,
                      CAST('0x' || substr(md5('cms:' || CAST(t.r AS VARCHAR) || '#' || CAST(vv AS VARCHAR)), 1, 15) AS BIGINT) % 1024 AS b,
                      count(*) AS n
                    FROM v CROSS JOIN range(4) t(r) GROUP BY 1, 2),
              p AS (SELECT DISTINCT user_id AS probe FROM events WHERE user_id <= 50),
              pb AS (SELECT probe, t.r AS r,
                       CAST('0x' || substr(md5('cms:' || CAST(t.r AS VARCHAR) || '#' || CAST(probe AS VARCHAR)), 1, 15) AS BIGINT) % 1024 AS b
                     FROM p CROSS JOIN range(4) t(r)),
              e AS (SELECT probe, min(coalesce(n, 0)) AS n_est FROM pb LEFT JOIN c USING (r, b) GROUP BY 1),
              x AS (SELECT vv AS probe, count(*) AS n_exact FROM v GROUP BY 1)
         SELECT probe, CAST(n_est AS BIGINT) AS n_est,
                CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact
         FROM e LEFT JOIN x USING (probe) ORDER BY probe""",
    "sketch_hll_rolling" -> (
      """WITH h AS (SELECT CAST(ts AS DATE) AS day,
                      CAST('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              r AS (SELECT day, hv // 4503599627370496 AS b,
                      CASE WHEN hv % 4503599627370496 = 0 THEN 53
                           ELSE 53 - length(bin(hv % 4503599627370496)) END AS rk
                    FROM h),
              regs AS (SELECT day, b, max(rk) AS reg FROM r GROUP BY 1, 2),
              grid AS (SELECT d.day, t.b
                       FROM (SELECT DISTINCT day FROM regs) d CROSS JOIN range(0, 256) t(b)),
              roll AS (SELECT g.day, g.b,
                         max(regs.reg) OVER (PARTITION BY g.b
                           ORDER BY g.day - DATE '1970-01-01'
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rreg
                       FROM grid g LEFT JOIN regs ON g.day = regs.day AND g.b = regs.b)
         SELECT day,
                CAST(sum(CASE WHEN rreg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_empty,
                CAST(sum(coalesce(rreg, 0)) AS BIGINT) AS reg_sum,
                CAST(CAST('""" + pipeline.Sketches.hllNumConstant(8).toString + """' AS HUGEINT)
                     // ((sum(CASE WHEN rreg IS NULL THEN CAST(9007199254740992 AS HUGEINT)
                               ELSE CAST(1 AS HUGEINT) << (53 - rreg) END)) * 1000000)
                     AS BIGINT) AS n_distinct_est
         FROM roll GROUP BY day ORDER BY day"""),
    "sketch_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
                      CAST('0x' || substr(md5('kmv:' || CAST(user_id * 1000 + dayofyear(ts) AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              r AS (SELECT event_type, hv,
                      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
                    FROM h),
              s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kmv,
                      max(CASE WHEN rn = 64 THEN hv END) AS kth_min
                    FROM r WHERE rn <= 64 GROUP BY 1)
         SELECT event_type, n_kmv, kth_min,
                CASE WHEN n_kmv < 64 THEN n_kmv
                     ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976 // kth_min AS BIGINT) END AS n_distinct_est
         FROM s ORDER BY event_type""",
    "sketch_kmv_overlap" ->
      """WITH h AS (SELECT DISTINCT event_type,
                      CAST('0x' || substr(md5('kmv:' || CAST(user_id * 1000 + dayofyear(ts) AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              r AS (SELECT event_type, hv,
                      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
                    FROM h),
              sk AS (SELECT event_type, list(hv ORDER BY hv) AS kmv
                     FROM r WHERE rn <= 64 GROUP BY 1),
              p AS (SELECT a.event_type AS group_a, b.event_type AS group_b,
                      a.kmv AS ka, b.kmv AS kb,
                      list_sort(list_distinct(a.kmv || b.kmv))[1:64] AS lu
                    FROM sk a JOIN sk b ON a.event_type < b.event_type),
              m AS (SELECT group_a, group_b,
                      CAST(len(ka) AS BIGINT) AS n_kmv_a,
                      CAST(len(kb) AS BIGINT) AS n_kmv_b,
                      CAST(len(list_filter(lu, x -> list_contains(ka, x) AND list_contains(kb, x))) AS BIGINT) AS inter_k,
                      CAST(len(lu) AS BIGINT) AS ku, lu
                    FROM p)
         SELECT group_a, group_b, n_kmv_a, n_kmv_b, inter_k,
                inter_k * 1000000 // ku AS jaccard_ppm,
                CASE WHEN ku < 64 THEN ku
                     ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976 // lu[64] AS BIGINT) END AS union_est
         FROM m ORDER BY group_a, group_b""",
    "pipeline_profile" ->
      """SELECT col_name, CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_rows,
                n_nulls, n_distinct, min_value, max_value
         FROM (
           SELECT 'doc_id' AS col_name, CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_nulls,
                  CAST(count(DISTINCT doc_id) AS BIGINT) n_distinct,
                  CAST(min(doc_id) AS VARCHAR) min_value, CAST(max(doc_id) AS VARCHAR) max_value FROM documents
           UNION ALL
           SELECT 'lang', CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT lang) AS BIGINT), min(lang), max(lang) FROM documents
           UNION ALL
           SELECT 'source', CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT source) AS BIGINT), min(source), max(source) FROM documents
           UNION ALL
           SELECT 'n_chars', CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(count(DISTINCT n_chars) AS BIGINT), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents) t
         ORDER BY col_name""",
    "pipeline_source_filter" ->
      """WITH w AS (SELECT doc_id, source, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              q AS (SELECT doc_id, source,
                      CAST(len(ws) AS BIGINT) n_words,
                      CAST(len(list_intersect(list_distinct(ws), ['the','and','of','to','a','in','is','that','it','for'])) AS BIGINT) n_stopwords,
                      CAST(len(list_distinct(ws)) AS BIGINT) n_distinct_words
                    FROM w),
              sc AS (SELECT doc_id, source,
                      CAST(floor((least(n_words / 100.0, 1.0) * 0.4
                                + least(n_stopwords / 5.0, 1.0) * 0.3
                                + n_distinct_words / greatest(CAST(n_words AS DOUBLE), 1.0) * 0.3) * 1000.0 + 0.5) AS BIGINT) AS quality_score
                     FROM q),
              ok AS (SELECT source FROM sc GROUP BY source
                     HAVING sum(quality_score) >= 460 * count(*))
         SELECT sc.doc_id, sc.source, sc.quality_score
         FROM sc JOIN ok ON sc.source IS NOT DISTINCT FROM ok.source
         ORDER BY sc.doc_id""",
    "multimodal_audio_probe" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'flac' ELSE 'mp3' END AS format,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 4) // 2
                          WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END AS INT) AS channels,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 8) * 4000
                          ELSE CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                               ELSE 32000 END END AS INT) AS sample_rate,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 16 END AS INT) AS bits_per_sample,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 + doc_id % 5000 END AS BIGINT) AS n_samples
         FROM documents ORDER BY doc_id""",
    "multimodal_probe" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 3 <> 2 THEN 'png' ELSE 'wav' END AS format,
                CASE WHEN doc_id % 3 <> 2 THEN CAST(16 + doc_id % 640 AS INT) END AS width,
                CASE WHEN doc_id % 3 <> 2 THEN CAST(16 + (doc_id * 7) % 480 AS INT) END AS height,
                CASE WHEN doc_id % 3 <> 2 THEN CAST(4 AS INT)
                     ELSE CAST(1 + doc_id % 2 AS INT) END AS channels,
                CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 8) * 4000 AS INT) END AS sample_rate,
                CASE WHEN doc_id % 3 = 2 THEN CAST(100 + doc_id % 1000 AS BIGINT) END AS n_samples
         FROM documents ORDER BY doc_id""",
    "multimodal_webp_probe" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 31 IN (0, 11) THEN 'unknown'
                     ELSE 'webp' END AS format,
                CASE WHEN doc_id % 31 IN (0, 11) THEN NULL
                     WHEN doc_id % 3 IN (0, 1) THEN CAST(16 + doc_id % 300 AS INT)
                     ELSE CAST(1000 + doc_id % 5000 AS INT) END AS width,
                CASE WHEN doc_id % 31 IN (0, 11) THEN NULL
                     WHEN doc_id % 3 IN (0, 1) THEN CAST(16 + (doc_id * 7) % 200 AS INT)
                     ELSE CAST(800 + (doc_id * 3) % 4000 AS INT) END AS height
         FROM documents ORDER BY doc_id""",
    "multimodal_mp3_frames" ->
      """WITH d AS (SELECT doc_id,
                      CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                           ELSE 32000 END AS rate,
                      CASE WHEN doc_id % 29 = 4 THEN (3 + doc_id % 7 - 1) * 1152
                           ELSE (3 + doc_id % 7) * 1152 END AS ns
                FROM documents)
         SELECT doc_id,
                CASE WHEN doc_id % 29 = 0 THEN 'unknown' ELSE 'mp3' END AS format,
                CASE WHEN doc_id % 29 = 0 THEN NULL
                     ELSE CAST(rate AS INT) END AS sample_rate,
                CASE WHEN doc_id % 29 = 0 THEN NULL
                     WHEN doc_id % 4 = 1 THEN CAST(1 AS INT)
                     ELSE CAST(2 AS INT) END AS channels,
                CASE WHEN doc_id % 29 = 0 THEN NULL
                     ELSE CAST(ns AS BIGINT) END AS n_samples,
                CASE WHEN doc_id % 29 = 0 THEN NULL
                     ELSE CAST(ns * 1000 // rate AS BIGINT) END AS duration_ms
         FROM d ORDER BY doc_id""",
    "multimodal_mp3_xing" ->
      """WITH d AS (SELECT doc_id,
                      CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                           ELSE 32000 END AS rate,
                      CASE WHEN doc_id % 29 = 4 THEN 3 * 1152
                           ELSE (1000 + doc_id % 9000) * 1152 END AS ns
                FROM documents)
         SELECT doc_id,
                CASE WHEN doc_id % 29 = 0 THEN 'unknown' ELSE 'mp3' END AS format,
                CASE WHEN doc_id % 29 = 0 THEN NULL
                     ELSE CAST(ns AS BIGINT) END AS n_samples,
                CASE WHEN doc_id % 29 = 0 THEN NULL
                     ELSE CAST(ns * 1000 // rate AS BIGINT) END AS duration_ms
         FROM d ORDER BY doc_id""",
    "multimodal_heif_probe" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 37 = 0 THEN 'unknown'
                     WHEN doc_id % 2 = 0 THEN 'avif'
                     ELSE 'heic' END AS format,
                CASE WHEN doc_id % 37 IN (0, 5) THEN NULL
                     ELSE CAST(64 + doc_id % 64 AS INT) END AS width,
                CASE WHEN doc_id % 37 IN (0, 5) THEN NULL
                     ELSE CAST(48 + doc_id % 32 AS INT) END AS height
         FROM documents ORDER BY doc_id""",
    "multimodal_ogg_probe" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 2
                     ELSE 1 + doc_id % 3 END AS INT) AS channels,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 48000
                     ELSE 8000 * (1 + doc_id % 3) END AS INT) AS sample_rate,
                CAST(CASE WHEN doc_id % 37 IN (5, 11)
                          THEN CASE WHEN doc_id % 2 = 0 THEN 250 ELSE 150 END
                     ELSE CASE WHEN doc_id % 2 = 0 THEN 500 + doc_id
                          ELSE 300 + doc_id END END AS BIGINT) AS duration_ms,
                CAST(CASE WHEN doc_id % 37 IN (5, 11) THEN 3 ELSE 4 END AS INT) AS n_pages,
                CAST(CASE WHEN doc_id % 37 = 11 THEN 1 ELSE 0 END AS INT) AS n_bad_pages,
                (doc_id % 37 NOT IN (5, 11)) AS eos
         FROM documents WHERE doc_id % 37 <> 0 ORDER BY doc_id""",
    "multimodal_png_meta" ->
      """SELECT doc_id,
                doc_id % 37 <> 0 AS has_png,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE CAST(16 + doc_id % 16 AS INT) END AS width,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE CAST(12 + doc_id % 8 AS INT) END AS height,
                CASE WHEN doc_id % 37 IN (0, 5) THEN NULL
                     ELSE 'Image ' || doc_id END AS title,
                CASE WHEN doc_id % 37 = 0 OR doc_id % 2 = 0 THEN NULL
                     ELSE 'Author ' || (doc_id % 7) END AS author,
                CASE WHEN doc_id % 37 = 0 OR doc_id % 2 = 1 THEN NULL
                     ELSE 'Desc ' || (doc_id % 5) END AS description,
                CASE WHEN doc_id % 37 = 0 OR doc_id % 3 <> 0 THEN NULL
                     ELSE 'graft ' || (doc_id % 9) END AS software,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE CAST(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                          - CASE WHEN doc_id % 37 = 5 THEN 1 ELSE 0 END AS INT)
                     END AS n_text_chunks,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     WHEN doc_id % 37 = 5 THEN CAST(1 AS INT)
                     ELSE CAST(0 AS INT) END AS n_bad_crc
         FROM documents ORDER BY doc_id""",
    "multimodal_ogg_tags" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
                'graft' AS vendor,
                'Track ' || doc_id AS title,
                CASE WHEN doc_id % 2 = 0 AND doc_id % 37 = 17 THEN NULL
                     ELSE 'Artist ' || (doc_id % 7) END AS artist,
                CASE WHEN doc_id % 2 = 0 OR doc_id % 37 = 17 THEN NULL
                     ELSE 'Album ' || (doc_id % 5) END AS album,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END
                     - CASE WHEN doc_id % 37 = 17 THEN 1 ELSE 0 END
                     AS INT) AS n_comments
         FROM documents WHERE doc_id % 37 <> 0 ORDER BY doc_id""",
    "multimodal_id3_tags" ->
      """SELECT doc_id,
                doc_id % 31 <> 0 AS has_id3,
                CASE WHEN doc_id % 31 = 0 THEN NULL
                     WHEN doc_id % 2 = 0 THEN CAST(3 AS INT)
                     ELSE CAST(4 AS INT) END AS version,
                CASE WHEN doc_id % 31 = 0 THEN NULL
                     ELSE 'Title ' || doc_id || repeat('!', 140) END AS title,
                CASE WHEN doc_id % 31 = 0 THEN NULL
                     ELSE 'Artist ' || (doc_id % 7) END AS artist,
                CASE WHEN doc_id % 31 IN (0, 11) THEN NULL
                     ELSE 'Album ' || (doc_id % 5) END AS album,
                CASE WHEN doc_id % 31 = 0 THEN NULL
                     WHEN doc_id % 31 = 11 THEN CAST(2 AS BIGINT)
                     ELSE CAST(4 AS BIGINT) END AS n_frames
         FROM documents ORDER BY doc_id""",
    "multimodal_exif_probe" ->
      """SELECT doc_id,
                (doc_id % 43 NOT IN (0, 9)) AS has_exif,
                CASE WHEN doc_id % 43 IN (0, 9) THEN NULL
                     WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
                CASE WHEN doc_id % 43 IN (0, 9) THEN NULL
                     ELSE CAST(1 + doc_id % 8 AS INT) END AS orientation,
                CASE WHEN doc_id % 43 IN (0, 9) THEN NULL
                     ELSE 'CAM' || CAST(doc_id % 5 AS VARCHAR) END AS make,
                CASE WHEN doc_id % 43 IN (0, 9) THEN NULL
                     ELSE 'M' || CAST(doc_id % 3 AS VARCHAR) END AS model,
                CASE WHEN doc_id % 43 IN (0, 9) THEN NULL
                     ELSE CAST(320 + (doc_id % 17) * 16 AS INT) END AS pixel_x,
                CASE WHEN doc_id % 43 IN (0, 9) THEN NULL
                     ELSE CAST(200 + (doc_id * 5 % 23) * 8 AS INT) END AS pixel_y
         FROM documents ORDER BY doc_id""",
    "multimodal_video_probe" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 41 = 0 THEN 'unknown' ELSE 'mp4' END AS format,
                CASE WHEN doc_id % 41 IN (0, 7) THEN NULL
                     ELSE CAST(1000 + (doc_id * 13) % 60000 AS BIGINT) END AS duration_ms,
                CASE WHEN doc_id % 41 IN (0, 7) THEN NULL
                     ELSE CAST(1 + doc_id % 2 AS INT) END AS n_tracks,
                CASE WHEN doc_id % 41 IN (0, 7) THEN NULL
                     ELSE CAST(160 + (doc_id % 32) * 8 AS INT) END AS width,
                CASE WHEN doc_id % 41 IN (0, 7) THEN NULL
                     ELSE CAST(90 + ((doc_id * 3) % 40) * 4 AS INT) END AS height,
                CASE WHEN doc_id % 41 IN (0, 7) THEN NULL
                     ELSE CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
                          ELSE 'vp09' END END AS codec
         FROM documents ORDER BY doc_id""",
    "multimodal_video_tracks" ->
      """WITH v AS (SELECT doc_id, 1 AS track_id, 'vide' AS handler,
                       600 + (doc_id % 4) * 200 AS ts,
                       12 + doc_id % 24 AS n1, 40 + doc_id % 20 AS d1,
                       8 + (doc_id * 3) % 16 AS n2,
                       4 + doc_id % 6 AS kf
                FROM documents WHERE doc_id % 41 NOT IN (0, 7)),
              v2 AS (SELECT doc_id, track_id, handler, ts,
                       n1 + n2 AS n_samples,
                       n1 * d1 + n2 * (d1 + 10) AS units,
                       CASE WHEN doc_id % 41 = 13 THEN NULL
                            ELSE list_sum(list_transform(range(0, n1 + n2),
                                   i -> 200 + ((doc_id + i * 7) % 100))) END AS total,
                       1 + (n1 + n2 - 1) // kf AS n_sync,
                       CASE WHEN 1 + (n1 + n2 - 1) // kf >= 2 THEN kf END AS sync_gap
                FROM v),
              a AS (SELECT doc_id, 2 AS track_id, 'soun' AS handler,
                       8000 AS ts, 50 + doc_id % 40 AS n_samples,
                       (50 + doc_id % 40) * 1024 AS units,
                       (50 + doc_id % 40) * (128 + doc_id % 64) AS total,
                       50 + doc_id % 40 AS n_sync, 1 AS sync_gap
                FROM documents
                WHERE doc_id % 41 NOT IN (0, 7) AND doc_id % 2 = 1),
              t AS (SELECT * FROM v2 UNION ALL SELECT * FROM a)
         SELECT doc_id, CAST(track_id AS INT) AS track_id, handler,
                CAST(ts AS BIGINT) AS timescale,
                CAST(units * 1000 // ts AS BIGINT) AS mdhd_duration_ms,
                CAST(n_samples AS BIGINT) AS n_samples,
                CAST(units * 1000 // ts AS BIGINT) AS stts_duration_ms,
                CAST(total AS BIGINT) AS total_bytes,
                CAST(total * 8 * ts // units AS BIGINT) AS bitrate_bps,
                CAST(n_sync AS BIGINT) AS n_sync_samples,
                CAST(sync_gap AS BIGINT) AS max_sync_gap
         FROM t ORDER BY doc_id, track_id""",
    "multimodal_video_chunks" ->
      """WITH v AS (SELECT doc_id,
                       12 + doc_id % 24 + 8 + (doc_id * 3) % 16 AS n,
                       4 + doc_id % 3 AS spc,
                       4096 + doc_id % 512 AS base
                FROM documents WHERE doc_id % 41 NOT IN (0, 7)),
              v2 AS (SELECT doc_id, n, base,
                       (n + spc - 1) // spc AS nc,
                       list_transform(range(0, (n + spc - 1) // spc),
                         k -> list_sum(list_transform(
                                range(k * spc, least(n, (k + 1) * spc)),
                                i -> 200 + ((doc_id + i * 7) % 100)))) AS cb
                FROM v),
              vr AS (SELECT doc_id, 1 AS track_id, 'vide' AS handler,
                       CASE WHEN doc_id % 41 = 19 THEN NULL ELSE nc END AS n_chunks,
                       CASE WHEN doc_id % 41 = 19 THEN NULL ELSE base END AS first_offset,
                       CASE WHEN doc_id % 41 = 19 THEN NULL
                            ELSE base + list_sum(cb) - cb[nc] END AS last_offset,
                       CASE WHEN doc_id % 41 = 19 THEN NULL ELSE n END AS chunk_samples,
                       CASE WHEN doc_id % 41 IN (13, 19) THEN NULL
                            ELSE list_max(cb) END AS max_chunk_bytes
                FROM v2),
              ar AS (SELECT doc_id, 2 AS track_id, 'soun' AS handler,
                       (50 + doc_id % 40 + 7) // 8 AS n_chunks,
                       1048576 AS first_offset,
                       1048576 + ((50 + doc_id % 40 + 7) // 8 - 1) * 8
                         * (128 + doc_id % 64) AS last_offset,
                       50 + doc_id % 40 AS chunk_samples,
                       8 * (128 + doc_id % 64) AS max_chunk_bytes
                FROM documents
                WHERE doc_id % 41 NOT IN (0, 7) AND doc_id % 2 = 1),
              t AS (SELECT * FROM vr UNION ALL SELECT * FROM ar)
         SELECT doc_id, CAST(track_id AS INT) AS track_id, handler,
                CAST(n_chunks AS BIGINT) AS n_chunks,
                CAST(first_offset AS BIGINT) AS first_offset,
                CAST(last_offset AS BIGINT) AS last_offset,
                CAST(chunk_samples AS BIGINT) AS chunk_samples,
                CAST(max_chunk_bytes AS BIGINT) AS max_chunk_bytes
         FROM t ORDER BY doc_id, track_id""",
    "multimodal_video_ranges" ->
      """WITH v AS (SELECT doc_id,
                       12 + doc_id % 24 + 8 + (doc_id * 3) % 16 AS n,
                       4 + doc_id % 3 AS spc,
                       4096 + doc_id % 512 AS base
                FROM documents WHERE doc_id % 41 NOT IN (0, 7, 19)),
              v2 AS (SELECT doc_id, n, spc, base,
                       (n + spc - 1) // spc AS nc,
                       list_transform(range(0, (n + spc - 1) // spc),
                         k -> list_sum(list_transform(
                                range(k * spc, least(n, (k + 1) * spc)),
                                i -> 200 + ((doc_id + i * 7) % 100)))) AS cb
                FROM v),
              v3 AS (SELECT doc_id, n, spc, base, nc, cb,
                       CAST(unnest(range(0, nc)) AS INT) AS k
                FROM v2),
              vr AS (SELECT doc_id, 1 AS track_id, 'vide' AS handler,
                       k + 1 AS chunk,
                       base + coalesce(list_sum(cb[1:k]), 0) AS chunk_offset,
                       CASE WHEN k < nc - 1 OR n % spc = 0 THEN spc
                            ELSE n % spc END AS n_samples,
                       CASE WHEN doc_id % 41 = 13 THEN NULL
                            ELSE cb[k + 1] END AS chunk_bytes
                FROM v3),
              a AS (SELECT doc_id, 50 + doc_id % 40 AS na,
                       128 + doc_id % 64 AS sz,
                       (50 + doc_id % 40 + 7) // 8 AS nc
                FROM documents
                WHERE doc_id % 41 NOT IN (0, 7) AND doc_id % 2 = 1),
              a3 AS (SELECT doc_id, na, sz, nc,
                       CAST(unnest(range(0, nc)) AS INT) AS k
                FROM a),
              ar AS (SELECT doc_id, 2 AS track_id, 'soun' AS handler,
                       k + 1 AS chunk,
                       1048576 + k * 8 * sz AS chunk_offset,
                       CASE WHEN k < nc - 1 OR na % 8 = 0 THEN 8
                            ELSE na % 8 END AS n_samples,
                       (CASE WHEN k < nc - 1 OR na % 8 = 0 THEN 8
                             ELSE na % 8 END) * sz AS chunk_bytes
                FROM a3),
              t AS (SELECT * FROM vr UNION ALL SELECT * FROM ar)
         SELECT doc_id, CAST(track_id AS INT) AS track_id, handler,
                CAST(chunk AS INT) AS chunk,
                CAST(chunk_offset AS BIGINT) AS chunk_offset,
                CAST(n_samples AS BIGINT) AS n_samples,
                CAST(chunk_bytes AS BIGINT) AS chunk_bytes
         FROM t ORDER BY doc_id, track_id, chunk""",
    "multimodal_meta" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/gif' END AS media_type,
                CAST(16 + doc_id % 64 AS INT) AS width,
                CAST(16 + (doc_id * 7) % 48 AS INT) AS height,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 1 + doc_id % 4 END AS INT) AS n_frames
         FROM documents ORDER BY doc_id""",
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, CAST(16 + doc_id % 64 AS INT) w,
                           CAST(16 + (doc_id * 7) % 48 AS INT) h,
                           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 1 + doc_id % 4 END AS INT) nf
                    FROM documents)
         SELECT doc_id, CAST(unnest(range(0, nf, 2)) AS INT) AS frame, w AS width, h AS height
         FROM d ORDER BY doc_id, frame""",
    "multimodal_resize" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 64 AS w0, 16 + (doc_id * 7) % 48 AS h0 FROM documents)
         SELECT doc_id, 'image/png' AS media_type,
                CAST(CASE WHEN w0 <= 40 AND h0 <= 32 THEN w0
                          WHEN 40 * h0 <= 32 * w0 THEN 40
                          ELSE greatest(1, (w0 * 32) // h0) END AS INT) AS width,
                CAST(CASE WHEN w0 <= 40 AND h0 <= 32 THEN h0
                          WHEN 40 * h0 <= 32 * w0 THEN greatest(1, (h0 * 40) // w0)
                          ELSE 32 END AS INT) AS height
         FROM d ORDER BY doc_id""",
    "text_readability" ->
      """WITH r AS (SELECT doc_id,
                      greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
                      len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS n_words,
                      len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
                    FROM documents)
         SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
                CAST(n_words AS BIGINT) AS n_words,
                CAST(n_syllables AS BIGINT) AS n_syllables,
                CAST(CASE WHEN n_words > 0
                     THEN 206835 - (1015 * n_words) // n_sentences
                                 - (84600 * n_syllables) // n_words END AS BIGINT) AS flesch_milli
         FROM r ORDER BY doc_id""",
    "emb_decontam" ->
      """WITH q AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                    FROM embeddings),
              scored AS (SELECT c.vec_id AS vec_id, b.vec_id AS bench_id,
                  CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(c.qv, b.qv), p -> p[1] * p[2])) AS DOUBLE)
                    / (sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE))
                     * sqrt(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
                FROM q c JOIN q b ON c.vec_id % 25 <> 0 AND b.vec_id % 25 = 0),
              best AS (SELECT vec_id, bench_id, cos_scaled,
                         row_number() OVER (PARTITION BY vec_id ORDER BY cos_scaled DESC, bench_id) AS r
                       FROM scored)
         SELECT vec_id, bench_id, cos_scaled,
                cos_scaled >= 400000000 AS contaminated
         FROM best WHERE r = 1 ORDER BY vec_id""",
    "multimodal_sidecar_filter" ->
      """SELECT doc_id, 'png' AS format,
                CAST(16 + doc_id % 640 AS INT) AS width,
                CAST(16 + (doc_id * 7) % 480 AS INT) AS height,
                CAST(doc_id % 7 AS VARCHAR) AS origin
         FROM documents
         WHERE doc_id % 4 = 0 AND doc_id % 3 <> 2 AND 16 + doc_id % 640 >= 64
         ORDER BY doc_id""",
    "multimodal_pcm_silence" ->
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS c,
                           CAST(80 + doc_id % 100 AS BIGINT) AS n FROM documents),
              ex AS (SELECT doc_id, c, n, unnest(range(0, c)) AS ch FROM d),
              sm AS (SELECT e.doc_id, e.ch, e.n, t.i,
                       CASE WHEN t.i < e.doc_id % 7 OR t.i >= e.n - e.doc_id % 5 THEN 0
                            WHEN t.i >= 40 AND t.i < 40 + e.doc_id % 9 THEN (e.doc_id + e.ch) % 200 - 100
                            ELSE ((e.doc_id * 2663 + e.ch * 7919 + t.i * 104729) % 65536) - 32768 END AS s
                     FROM ex e CROSS JOIN range(0, 180) t(i) WHERE t.i < e.n),
              fl AS (SELECT doc_id, ch, n, i, (abs(s) < 256) AS silent FROM sm),
              runs AS (SELECT doc_id, ch, silent, i,
                         i - row_number() OVER (PARTITION BY doc_id, ch, silent ORDER BY i) AS grp
                       FROM fl),
              mx AS (SELECT doc_id, ch, max(cnt) AS max_run FROM (
                       SELECT doc_id, ch, grp, count(*) AS cnt
                       FROM runs WHERE silent GROUP BY doc_id, ch, grp)
                     GROUP BY doc_id, ch),
              agg AS (SELECT doc_id, ch, n,
                        sum(CASE WHEN silent THEN 1 ELSE 0 END) AS n_silent,
                        min(CASE WHEN NOT silent THEN i END) AS first_loud,
                        max(CASE WHEN NOT silent THEN i END) AS last_loud
                      FROM fl GROUP BY doc_id, ch, n)
         SELECT a.doc_id, CAST(a.ch AS INT) AS channel, a.n AS n_samples,
                CAST(a.n_silent AS BIGINT) AS n_silent,
                CAST(coalesce(a.first_loud, a.n) AS BIGINT) AS lead_silent,
                CAST(CASE WHEN a.last_loud IS NULL THEN a.n
                          ELSE a.n - 1 - a.last_loud END AS BIGINT) AS tail_silent,
                CAST(coalesce(m.max_run, 0) AS BIGINT) AS max_run
         FROM agg a LEFT JOIN mx m ON m.doc_id = a.doc_id AND m.ch = a.ch
         ORDER BY a.doc_id, channel""",
    "multimodal_image_stats" ->
      """WITH g AS (SELECT doc_id, k,
                      ((doc_id // 8) * 31 + k * 131) % 248
                      + CASE WHEN k = doc_id % 72 THEN doc_id % 8 ELSE 0 END AS v
                    FROM documents, generate_series(0, 71) t(k))
         SELECT doc_id, CAST(36 AS INT) AS width, CAST(32 AS INT) AS height,
                CAST(min(v) AS INT) AS luma_min, CAST(max(v) AS INT) AS luma_max,
                CAST(sum(v) // 72 AS BIGINT) AS luma_mean
         FROM g GROUP BY doc_id ORDER BY doc_id""",
    "multimodal_decode_tolerant" ->
      """WITH live AS (SELECT doc_id FROM documents
                       WHERE doc_id % 37 != 0 AND doc_id % 37 != 5),
              g AS (SELECT doc_id, k,
                      ((doc_id // 8) * 31 + k * 131) % 248
                      + CASE WHEN k = doc_id % 72 THEN doc_id % 8 ELSE 0 END AS v
                    FROM live, generate_series(0, 71) t(k)),
              ok AS (SELECT doc_id, CAST(36 AS INT) AS width, CAST(32 AS INT) AS height,
                       CAST(min(v) AS INT) AS luma_min, CAST(max(v) AS INT) AS luma_max,
                       CAST(sum(v) // 72 AS BIGINT) AS luma_mean,
                       CAST(NULL AS VARCHAR) AS _corrupt
                     FROM g GROUP BY doc_id),
              bad AS (SELECT doc_id, CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
                        CAST(NULL AS INT) AS luma_min, CAST(NULL AS INT) AS luma_max,
                        CAST(NULL AS BIGINT) AS luma_mean,
                        CASE WHEN doc_id % 37 = 0 THEN 'no_reader'
                             ELSE 'IIOException' END AS _corrupt
                      FROM documents WHERE doc_id % 37 = 0 OR doc_id % 37 = 5)
         SELECT * FROM ok UNION ALL SELECT * FROM bad ORDER BY doc_id""",
    "multimodal_jpeg_meta" ->
      """SELECT doc_id, 'image/jpeg' AS media_type,
                CAST(16 + doc_id % 64 AS INT) AS width,
                CAST(16 + (doc_id * 7) % 48 AS INT) AS height,
                CAST(1 AS INT) AS n_frames
         FROM documents ORDER BY doc_id""",
    "multimodal_jpeg_stats" ->
      """WITH d AS (SELECT doc_id,
                      CAST(16 + doc_id % 64 AS INT) AS w,
                      CAST(16 + (doc_id * 7) % 48 AS INT) AS h
                    FROM documents),
              e AS (SELECT d.doc_id, d.w, d.h,
                      SUM((x.x * 3 + y.y * 5 + d.doc_id * 11) % 240) AS s
                    FROM d
                    JOIN (SELECT unnest(generate_series(0, 79)) AS x) x ON x.x < d.w
                    JOIN (SELECT unnest(generate_series(0, 63)) AS y) y ON y.y < d.h
                    GROUP BY 1, 2, 3)
         SELECT doc_id, w AS width, h AS height,
                CAST(s // (w * h) AS BIGINT) AS expected_mean_luma,
                TRUE AS luma_within_2
         FROM e ORDER BY doc_id""",
    "multimodal_resolution_screen" ->
      """WITH g AS (SELECT doc_id,
                      CAST(16 + doc_id % 64 AS INT) AS width,
                      CAST(16 + (doc_id * 7) % 48 AS INT) AS height
                    FROM documents),
              v AS (SELECT doc_id, width, height,
                      least(width, height) AS min_side,
                      CAST(greatest(width, height) * 100 // least(width, height) AS BIGINT) AS aspect_pct
                    FROM g)
         SELECT doc_id, width, height, min_side, aspect_pct,
                CASE WHEN min_side < 24 THEN 'too_small'
                     WHEN aspect_pct > 250 THEN 'extreme_aspect' END AS reject_reason,
                (CASE WHEN min_side < 24 THEN 'too_small'
                      WHEN aspect_pct > 250 THEN 'extreme_aspect' END IS NULL) AS keep
         FROM v ORDER BY doc_id""",
    "multimodal_frame_phash" ->
      """WITH f AS (SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS frame FROM documents),
              h AS (SELECT doc_id, frame,
                      CAST(coalesce(sum(CASE WHEN
                          (((doc_id // 8) * 31 + ((b // 8) * 9 + (b % 8) + 1) * 131) % 248
                           + CASE WHEN (b // 8) * 9 + (b % 8) + 1 = (doc_id + frame) % 72 THEN doc_id % 8 ELSE 0 END)
                        > (((doc_id // 8) * 31 + ((b // 8) * 9 + (b % 8)) * 131) % 248
                           + CASE WHEN (b // 8) * 9 + (b % 8) = (doc_id + frame) % 72 THEN doc_id % 8 ELSE 0 END)
                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END), 0) AS BIGINT) AS dhash
                    FROM f, generate_series(0, 62) t(b)
                    GROUP BY doc_id, frame)
         SELECT doc_id, CAST(frame AS INT) AS frame, dhash
         FROM h ORDER BY doc_id, frame""",
    "multimodal_pcm_stats" ->
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS c,
                           CAST(64 + doc_id % 129 AS BIGINT) AS n FROM documents),
              ex AS (SELECT doc_id, c, n, unnest(range(0, c)) AS ch FROM d),
              sm AS (SELECT e.doc_id, e.ch, e.n,
                       CASE WHEN t.i % 37 = 0 THEN 32767
                            ELSE ((e.doc_id * 2663 + e.ch * 7919 + t.i * 104729) % 65536) - 32768 END AS s
                     FROM ex e CROSS JOIN range(0, 192) t(i) WHERE t.i < e.n)
         SELECT doc_id, CAST(ch AS INT) AS channel, n AS n_samples,
                CAST(max(abs(s)) AS BIGINT) AS peak_abs,
                CAST(sum(s * s) AS BIGINT) AS sum_sq,
                CAST((sum(CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END) * 1000000) // n AS BIGINT) AS clip_ppm
         FROM sm GROUP BY doc_id, ch, n ORDER BY doc_id, channel""",
    "events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
              stage AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
           FROM ev GROUP BY user_id),
              v AS (
           SELECT e.user_id, min(e.ts) AS t_view
           FROM ev e JOIN stage s ON s.user_id = e.user_id
           WHERE e.event_type = 'view' AND e.ts > s.t_signup
           GROUP BY e.user_id),
              p AS (
           SELECT e.user_id, min(e.ts) AS t_purchase
           FROM ev e JOIN v ON v.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > v.t_view
           GROUP BY e.user_id)
         SELECT CAST(count(DISTINCT stage.user_id) AS BIGINT) AS n_signup,
                CAST(count(DISTINCT v.user_id) AS BIGINT) AS n_viewed,
                CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_purchased
         FROM stage
         LEFT JOIN v ON v.user_id = stage.user_id
         LEFT JOIN p ON p.user_id = stage.user_id
         WHERE stage.t_signup IS NOT NULL""",
    "events_retention" ->
      """WITH first_seen AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY user_id)
         SELECT f.cohort_day,
                CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS INT) AS day_offset,
                CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
         FROM events e
         JOIN first_seen f ON f.user_id = e.user_id
         WHERE date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) <= 7
         GROUP BY f.cohort_day, date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
         ORDER BY cohort_day, day_offset""",
    "rel_interval_overlap" ->
      """WITH iv AS (SELECT user_id, event_type, date_trunc('week', ts) AS wk,
                      CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
                      CAST(floor(epoch(max(ts))) AS BIGINT) + 1 AS e
                    FROM events GROUP BY 1, 2, 3),
              a AS (SELECT user_id AS a_user, s AS a_s, e AS a_e FROM iv
                    WHERE event_type = 'view' AND user_id % 10 = 0),
              b AS (SELECT user_id AS b_user, s AS b_s, e AS b_e FROM iv
                    WHERE event_type = 'purchase' AND user_id % 10 = 5)
         SELECT a_user, b_user, a_s, b_s,
                CAST(LEAST(a_e, b_e) - GREATEST(a_s, b_s) AS BIGINT) AS overlap_secs
         FROM a JOIN b ON a_s < b_e AND b_s < a_e
         ORDER BY a_user, b_user, a_s, b_s""",
    "events_resample_gapfill" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r)
         SELECT s.user_id, s.day,
                CAST(coalesce(b.n_events, 0) AS BIGINT) AS n_events,
                CAST(coalesce(b.value_cents, 0) AS BIGINT) AS value_cents
         FROM spine s LEFT JOIN b USING (user_id, day)
         ORDER BY user_id, day""",
    "ts_seasonal" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT event_type,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.event_type, s.day,
                      CAST(coalesce(b.cents, 0) AS BIGINT) AS cents,
                      CAST((s.day - DATE '1970-01-01') % 7 AS BIGINT) AS ph
                    FROM spine s LEFT JOIN b USING (event_type, day)),
              tr AS (SELECT event_type, day, cents, ph,
                       CASE WHEN count(*) OVER w = 7
                            THEN CAST(sum(cents) OVER w // 7 AS BIGINT) END AS trend
                     FROM f
                     WINDOW w AS (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              pm AS (SELECT event_type, ph,
                       CAST(sum(cents - trend) // count(*) AS BIGINT) AS raw
                     FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
              gm AS (SELECT event_type, CAST(sum(raw) // 7 AS BIGINT) AS g
                     FROM pm GROUP BY 1),
              se AS (SELECT pm.event_type, pm.ph, CAST(pm.raw - gm.g AS BIGINT) AS season
                     FROM pm JOIN gm USING (event_type))
         SELECT tr.event_type, tr.day, tr.cents AS value_cents,
                tr.trend AS trend_cents,
                CASE WHEN tr.trend IS NOT NULL THEN se.season END AS seasonal_cents,
                CAST(tr.cents - tr.trend - se.season AS BIGINT) AS residual_cents
         FROM tr LEFT JOIN se ON se.event_type = tr.event_type AND se.ph = tr.ph
         ORDER BY tr.event_type, tr.day""",
    "ts_seasonal_even" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT event_type,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.event_type, s.day,
                      CAST(coalesce(b.cents, 0) AS BIGINT) AS cents,
                      CAST((s.day - DATE '1970-01-01') % 12 AS BIGINT) AS ph
                    FROM spine s LEFT JOIN b USING (event_type, day)),
              tr AS (SELECT event_type, day, cents, ph,
                       CASE WHEN count(*) OVER w = 13
                            THEN CAST((2 * sum(cents) OVER w
                                       - lag(cents, 6) OVER (PARTITION BY event_type ORDER BY day)
                                       - lead(cents, 6) OVER (PARTITION BY event_type ORDER BY day)
                                      ) // 24 AS BIGINT) END AS trend
                     FROM f
                     WINDOW w AS (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
              pm AS (SELECT event_type, ph,
                       CAST(sum(cents - trend) // count(*) AS BIGINT) AS raw
                     FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
              gm AS (SELECT event_type, CAST(sum(raw) // 12 AS BIGINT) AS g
                     FROM pm GROUP BY 1),
              se AS (SELECT pm.event_type, pm.ph, CAST(pm.raw - gm.g AS BIGINT) AS season
                     FROM pm JOIN gm USING (event_type))
         SELECT tr.event_type, tr.day, tr.cents AS value_cents,
                tr.trend AS trend_cents,
                CASE WHEN tr.trend IS NOT NULL THEN se.season END AS seasonal_cents,
                CAST(tr.cents - tr.trend - se.season AS BIGINT) AS residual_cents
         FROM tr LEFT JOIN se ON se.event_type = tr.event_type AND se.ph = tr.ph
         ORDER BY tr.event_type, tr.day""",
    "ts_seasonal_anomaly" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT event_type,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.event_type, s.day,
                      CAST(coalesce(b.cents, 0) AS BIGINT) AS cents,
                      CAST((s.day - DATE '1970-01-01') % 7 AS BIGINT) AS ph
                    FROM spine s LEFT JOIN b USING (event_type, day)),
              tr AS (SELECT event_type, day, cents, ph,
                       CASE WHEN count(*) OVER w = 7
                            THEN CAST(sum(cents) OVER w // 7 AS BIGINT) END AS trend
                     FROM f
                     WINDOW w AS (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              pm AS (SELECT event_type, ph,
                       CAST(sum(cents - trend) // count(*) AS BIGINT) AS raw
                     FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
              gm AS (SELECT event_type, CAST(sum(raw) // 7 AS BIGINT) AS g
                     FROM pm GROUP BY 1),
              se AS (SELECT pm.event_type, pm.ph, CAST(pm.raw - gm.g AS BIGINT) AS season
                     FROM pm JOIN gm USING (event_type)),
              resid AS (SELECT tr.event_type, tr.day, tr.cents,
                          CAST(tr.cents - tr.trend - se.season AS BIGINT) AS rc
                        FROM tr JOIN se ON se.event_type = tr.event_type AND se.ph = tr.ph
                        WHERE tr.trend IS NOT NULL),
              med AS (SELECT event_type, quantile_cont(rc, 0.5) AS m FROM resid GROUP BY 1),
              md AS (SELECT r2.event_type, any_value(med.m) AS m,
                       quantile_cont(abs(r2.rc - med.m), 0.5) AS d
                     FROM resid r2 JOIN med USING (event_type) GROUP BY r2.event_type)
         SELECT resid.event_type, resid.day, resid.cents AS value_cents,
                resid.rc AS residual_cents,
                CAST(md.m * 2 AS BIGINT) AS med_x2,
                CAST(md.d * 2 AS BIGINT) AS mad_x2
         FROM resid JOIN md USING (event_type)
         WHERE abs(CAST(resid.rc AS DOUBLE) - md.m) > 3.0 * greatest(md.d, 1.0)
         ORDER BY resid.event_type, resid.day""",
    "dedup_time_scoped" ->
      """WITH occ AS (SELECT concat_ws('|', user_id, event_type) AS k, ts, event_id FROM events),
              g AS (SELECT k, ts, event_id,
                      lag(ts) OVER (PARTITION BY k ORDER BY ts, event_id) prev_ts
                    FROM occ),
              m AS (SELECT k, ts, event_id,
                      CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 604800000 THEN 1 ELSE 0 END is_new
                    FROM g),
              sid AS (SELECT k, ts,
                        CAST(sum(is_new) OVER (PARTITION BY k ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) epoch
                      FROM m)
         SELECT k AS content_key, epoch AS crawl_epoch, min(ts) AS first_seen,
                CAST(count(*) - 1 AS BIGINT) AS n_dropped
         FROM sid GROUP BY k, epoch
         ORDER BY content_key, crawl_epoch""",
    "events_rolling_median" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day, CAST(coalesce(b.cents, 0) AS BIGINT) AS cents
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              c AS (SELECT f.user_id AS user_id, f.cents,
                      CAST(unnest(generate_series(f.day, f.day + INTERVAL 6 DAY,
                        INTERVAL 1 DAY)) AS DATE) AS win_day
                    FROM f)
         SELECT c.user_id, c.win_day,
                CAST(floor(quantile_cont(c.cents, 0.5) * 100 + 0.5) AS BIGINT) AS med_c
         FROM c JOIN r ON r.user_id = c.user_id AND c.win_day <= r.d1
         GROUP BY 1, 2 ORDER BY c.user_id, c.win_day""",
    "events_stickiness" ->
      """WITH dd AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
              b AS (SELECT min(day) AS d0, max(day) AS d1 FROM dd),
              dau AS (SELECT day AS win_day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
                      FROM dd GROUP BY 1),
              c AS (SELECT user_id,
                      CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                        INTERVAL 1 DAY)) AS DATE) AS win_day
                    FROM dd),
              wau AS (SELECT c.win_day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
                      FROM c, b WHERE c.win_day BETWEEN b.d0 AND b.d1
                      GROUP BY 1)
         SELECT win_day, dau, wau,
                CAST((dau * 1000000) // wau AS BIGINT) AS stickiness_ppm
         FROM dau JOIN wau USING (win_day) ORDER BY win_day""",
    "events_rolling_actives" ->
      """WITH dd AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
                     FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
              b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
                    FROM dd GROUP BY 1),
              c AS (SELECT event_type, user_id,
                      CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                        INTERVAL 1 DAY)) AS DATE) AS win_day
                    FROM dd)
         SELECT c.event_type AS event_type, c.win_day,
                count(DISTINCT c.user_id) AS n_distinct
         FROM c JOIN b ON b.event_type = c.event_type
                      AND c.win_day BETWEEN b.d0 AND b.d1
         GROUP BY 1, 2 ORDER BY c.event_type, c.win_day""",
    "events_mde" ->
      """WITH a AS (SELECT event_type, user_id % 2 AS arm,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
              FROM events WHERE value IS NOT NULL),
            m AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
                CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS ss
              FROM a GROUP BY 1, 2),
            g AS (SELECT event_type,
                sum(CASE WHEN arm = 0 THEN n END) AS na,
                sum(CASE WHEN arm = 1 THEN n END) AS nb,
                sum(CASE WHEN arm = 0 THEN s END) AS sa,
                sum(CASE WHEN arm = 1 THEN s END) AS sb,
                sum(CASE WHEN arm = 0 THEN ss END) AS ssa,
                sum(CASE WHEN arm = 1 THEN ss END) AS ssb
              FROM m GROUP BY 1)
         SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CASE WHEN na >= 2 AND nb >= 2
                      AND (CAST(ssa AS DOUBLE)
                           - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                        + (CAST(ssb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) > 0
                THEN CAST(floor(1000 * CAST('2.8015852181129688' AS DOUBLE) *
                  sqrt((((CAST(ssa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                        + (CAST(ssb AS DOUBLE)
                          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
                       / CAST(na + nb - 2 AS DOUBLE))
                     * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))))
                  AS BIGINT) END AS mde_cents_milli
         FROM g ORDER BY event_type""",
    "events_sprt" -> sprtOracleSql(p0 = 0.25, p1 = 0.30,
      alpha = 0.05, beta = 0.2),
    "events_power_curve" ->
      """WITH a AS (SELECT event_type, user_id % 2 AS arm,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
              FROM events WHERE value IS NOT NULL),
            m AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
                CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS ss
              FROM a GROUP BY 1, 2),
            g AS (SELECT event_type,
                sum(CASE WHEN arm = 0 THEN n END) AS na,
                sum(CASE WHEN arm = 1 THEN n END) AS nb,
                sum(CASE WHEN arm = 0 THEN s END) AS sa,
                sum(CASE WHEN arm = 1 THEN s END) AS sb,
                sum(CASE WHEN arm = 0 THEN ss END) AS ssa,
                sum(CASE WHEN arm = 1 THEN ss END) AS ssb
              FROM m GROUP BY 1),
            e AS (SELECT unnest([10000, 20000, 50000, 100000]) AS effect_ppm),
            x AS (SELECT g.*, e.effect_ppm,
                (((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                  + (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
                 / CAST(na + nb - 2 AS DOUBLE)) AS s2,
                ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / CAST(na + nb AS DOUBLE)) AS mn
              FROM g CROSS JOIN e)
         SELECT event_type, CAST(effect_ppm AS BIGINT) AS effect_ppm,
                CASE WHEN na >= 2 AND nb >= 2 AND s2 > 0 AND mn > 0
                  THEN CAST(floor(1000 * (mn * CAST(effect_ppm AS DOUBLE) / 1000000.0)) AS BIGINT)
                END AS target_cents_milli,
                CASE WHEN na >= 2 AND nb >= 2 AND s2 > 0 AND mn > 0
                  THEN CAST(ceil(2 * CAST('2.8015852181129688' AS DOUBLE) * CAST('2.8015852181129688' AS DOUBLE)
                       * s2 / ((mn * CAST(effect_ppm AS DOUBLE) / 1000000.0)
                             * (mn * CAST(effect_ppm AS DOUBLE) / 1000000.0))) AS BIGINT)
                END AS n_per_arm
         FROM x ORDER BY event_type, effect_ppm""",
    "rel_fdr_bh" ->
      """WITH h AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
                CASE WHEN n_nationkey = 7 THEN NULL
                     WHEN n_nationkey % 5 = 0 THEN
                       CAST('0x' || substr(md5('fdr:' || CAST(n_nationkey AS VARCHAR)), 1, 15) AS BIGINT) % 2000
                     ELSE
                       CAST('0x' || substr(md5('fdr:' || CAST(n_nationkey AS VARCHAR)), 1, 15) AS BIGINT) % 1000001
                END AS p_ppm
              FROM nation),
            live AS (SELECT id, p_ppm,
                       CAST(row_number() OVER (ORDER BY p_ppm, id) AS BIGINT) AS p_rank,
                       CAST(count(*) OVER () AS BIGINT) AS m
                     FROM h WHERE p_ppm IS NOT NULL)
         SELECT id, CAST(p_ppm AS BIGINT) AS p_ppm, p_rank, m AS m_tests,
                CAST(p_rank * 100000 AS BIGINT) AS bh_threshold_x,
                CAST(p_ppm * m AS BIGINT) AS p_x_m,
                max(CASE WHEN p_ppm * m <= p_rank * 100000 THEN 1 ELSE 0 END)
                  OVER (ORDER BY p_rank DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS reject
         FROM live
         UNION ALL
         SELECT id, NULL, NULL, NULL, NULL, NULL, FALSE FROM h WHERE p_ppm IS NULL
         ORDER BY id""",
    "rel_anova" ->
      """WITH c AS (SELECT l_returnflag AS g,
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x
              FROM lineitem),
              m AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
                CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS t,
                CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
              FROM c GROUP BY 1),
              a AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                CAST(sum(n) AS BIGINT) AS n_total,
                CAST(sum(t) AS HUGEINT) AS tt,
                CAST(sum(ss) AS HUGEINT) AS sstot,
                CAST(sum((t * t) // n) AS HUGEINT) AS bt
              FROM m)
         SELECT k_groups, n_total,
                CASE WHEN k_groups >= 2 AND n_total > k_groups
                      AND CAST(sstot AS DOUBLE) - CAST(bt AS DOUBLE) > 0
                THEN CAST(floor(1000 *
                  ((CAST(bt AS DOUBLE)
                      - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) / CAST(n_total AS DOUBLE))
                     / CAST(k_groups - 1 AS DOUBLE))
                  / ((CAST(sstot AS DOUBLE) - CAST(bt AS DOUBLE))
                     / CAST(n_total - k_groups AS DOUBLE)))
                  AS BIGINT) END AS f_milli,
                CASE WHEN CAST(sstot AS DOUBLE)
                       - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) / CAST(n_total AS DOUBLE) > 0
                THEN CAST(floor(1000000 *
                  (CAST(bt AS DOUBLE)
                     - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) / CAST(n_total AS DOUBLE))
                  / (CAST(sstot AS DOUBLE)
                     - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) / CAST(n_total AS DOUBLE)))
                  AS BIGINT) END AS eta2_ppm
         FROM a""",
    "pipeline_moment_maintenance" ->
      """WITH c AS (SELECT l_returnflag,
                CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
              FROM lineitem),
              m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
                CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
              FROM c GROUP BY 1)
         SELECT l_returnflag, n,
                CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                THEN CAST(floor(1e9 *
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT)
                END AS corr_e9
         FROM m ORDER BY l_returnflag""",
    "rel_theil" -> {
      def lg(x: String) =
        s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
      s"""WITH a AS (SELECT c_mktsegment,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
         FROM orders JOIN customer ON o_custkey = c_custkey),
         g AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(sum(CAST(x AS HUGEINT) * ${lg("x")}) AS HUGEINT) AS sxlg
         FROM a GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS gn,
           CAST(sum(sx) AS HUGEINT) AS gsx FROM g)
         SELECT c_mktsegment, n,
           CAST((sx * 1000000) // gsx AS BIGINT) AS cents_share_ppm,
           CAST((sxlg + sx * (${lg("n")} - ${lg("CAST(sx AS BIGINT)")} - 64))
             * 1000 // sx AS BIGINT) AS t_within_64e3,
           CAST(sx * (${lg("CAST(sx AS BIGINT)")} + ${lg("gn")}
             - ${lg("n")} - ${lg("CAST(gsx AS BIGINT)")})
             * 1000 // gsx AS BIGINT) AS t_between_term_64e3
         FROM g CROSS JOIN t ORDER BY c_mktsegment"""
    },
    "events_did" ->
      """WITH c AS (SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.5)) AS BIGINT) AS cut
                    FROM events),
              p AS (SELECT user_id,
                      CASE WHEN epoch_us(ts) <= (SELECT cut FROM c) THEN 0 ELSE 1 END AS period,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                    FROM events WHERE event_type = 'purchase'),
              agg AS (SELECT user_id, period, CAST(sum(cents) AS BIGINT) AS cents
                      FROM p GROUP BY 1, 2),
              units AS (SELECT user_id, unnest([0, 1]) AS period
                        FROM (SELECT DISTINCT user_id FROM events)),
              cells AS (SELECT units.user_id % 2 AS arm, units.period,
                          CAST(coalesce(agg.cents, 0) AS HUGEINT) AS v
                        FROM units LEFT JOIN agg
                          ON agg.user_id = units.user_id AND agg.period = units.period),
              g AS (SELECT arm, period, CAST(count(*) AS BIGINT) AS n, sum(v) AS s
                    FROM cells GROUP BY 1, 2),
              b AS (SELECT arm,
                      CAST(sum(CASE WHEN period = 0 THEN n END) AS BIGINT) AS n_pre,
                      CAST(sum(CASE WHEN period = 1 THEN n END) AS BIGINT) AS n_post,
                      sum(CASE WHEN period = 0 THEN s END) AS spre,
                      sum(CASE WHEN period = 1 THEN s END) AS spost
                    FROM g GROUP BY 1),
              w AS (SELECT arm, n_pre, n_post,
                      CASE WHEN n_pre > 0
                           THEN CAST(floor(1e3 * CAST(spre AS DOUBLE) / CAST(n_pre AS DOUBLE)) AS BIGINT) END AS mean_pre_e3,
                      CASE WHEN n_post > 0
                           THEN CAST(floor(1e3 * CAST(spost AS DOUBLE) / CAST(n_post AS DOUBLE)) AS BIGINT) END AS mean_post_e3,
                      CASE WHEN n_pre > 0 AND n_post > 0
                           THEN CAST(floor(1e3 * (CAST(spost AS DOUBLE) / CAST(n_post AS DOUBLE)
                                                  - CAST(spre AS DOUBLE) / CAST(n_pre AS DOUBLE))) AS BIGINT) END AS delta_e3,
                      CASE WHEN n_pre > 0 AND n_post > 0
                           THEN CAST(spost AS DOUBLE) / CAST(n_post AS DOUBLE)
                                - CAST(spre AS DOUBLE) / CAST(n_pre AS DOUBLE) END AS dd
                    FROM b),
              d AS (SELECT CASE WHEN count(*) = 2 AND count(dd) = 2
                           THEN CAST(floor(1e3 * (max(CASE WHEN arm = 1 THEN dd END)
                                                  - max(CASE WHEN arm = 0 THEN dd END))) AS BIGINT)
                           END AS did_e3 FROM w)
         SELECT w.arm, w.n_pre, w.n_post, w.mean_pre_e3, w.mean_post_e3,
                w.delta_e3, d.did_e3
         FROM w CROSS JOIN d ORDER BY arm""",
    "events_cuped" -> {
      def d(c: String) = s"CAST($c AS DOUBLE)"
      val varX = s"(${d("gsxx")} - ${d("gsx")} * ${d("gsx")} / ${d("gn")})"
      val varY = s"(${d("gsyy")} - ${d("gsy")} * ${d("gsy")} / ${d("gn")})"
      val covXY = s"(${d("gsxy")} - ${d("gsx")} * ${d("gsy")} / ${d("gn")})"
      val theta = s"($covXY / $varX)"
      s"""WITH per AS (SELECT user_id, user_id % 2 AS arm,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS y
         FROM events GROUP BY 1, 2),
         a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
           CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         FROM per GROUP BY 1),
         p AS (SELECT CAST(sum(n) AS BIGINT) AS gn,
           CAST(sum(sx) AS HUGEINT) AS gsx, CAST(sum(sy) AS HUGEINT) AS gsy,
           CAST(sum(sxx) AS HUGEINT) AS gsxx, CAST(sum(syy) AS HUGEINT) AS gsyy,
           CAST(sum(sxy) AS HUGEINT) AS gsxy
         FROM a)
         SELECT arm, n,
           CAST(floor(1e3 * ${d("sy")} / ${d("n")}) AS BIGINT) AS mean_post_e3,
           CASE WHEN $varX > 0
                THEN CAST(floor(1e3 * (${d("sy")} / ${d("n")}
                  - $theta * (${d("sx")} / ${d("n")} - ${d("gsx")} / ${d("gn")}))) AS BIGINT)
                ELSE CAST(floor(1e3 * ${d("sy")} / ${d("n")}) AS BIGINT) END AS mean_adj_e3,
           CASE WHEN $varX > 0 THEN CAST(floor(1e6 * $theta) AS BIGINT) END AS theta_e6,
           CASE WHEN $varX > 0 AND $varY > 0
                THEN CAST(floor(1e6 * $covXY * $covXY / ($varX * $varY)) AS BIGINT) END
             AS var_reduction_ppm
         FROM a CROSS JOIN p ORDER BY arm"""
    },
    "ts_croston" ->
      """WITH RECURSIVE b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              d AS (SELECT user_id, day, cents,
                      CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS rn
                    FROM b WHERE cents <> 0),
              g AS (SELECT user_id, rn - 1 AS grn, gap FROM (
                      SELECT user_id, rn,
                             CAST(day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) * 1000 AS gap
                      FROM d) WHERE rn >= 2),
              ez AS (SELECT user_id, rn, cents AS e FROM d WHERE rn = 1
                     UNION ALL
                     SELECT d.user_id, d.rn, (1 * d.cents + 3 * ez.e) // 4
                     FROM d JOIN ez ON d.user_id = ez.user_id AND d.rn = ez.rn + 1),
              ep AS (SELECT user_id, grn, gap AS e FROM g WHERE grn = 1
                     UNION ALL
                     SELECT g.user_id, g.grn, (1 * g.gap + 3 * ep.e) // 4
                     FROM g JOIN ep ON g.user_id = ep.user_id AND g.grn = ep.grn + 1),
              nz AS (SELECT user_id, max(rn) AS n FROM d GROUP BY 1),
              z AS (SELECT ez.user_id, ez.e AS z_hat FROM ez
                    JOIN nz ON nz.user_id = ez.user_id AND ez.rn = nz.n),
              pm AS (SELECT user_id, max(grn) AS m FROM g GROUP BY 1),
              p AS (SELECT ep.user_id, ep.e AS p_hat FROM ep
                    JOIN pm ON pm.user_id = ep.user_id AND ep.grn = pm.m)
         SELECT nz.user_id, CAST(nz.n AS BIGINT) AS n_demands,
                CAST(z.z_hat AS BIGINT) AS z_hat_cents,
                CAST(p.p_hat AS BIGINT) AS p_hat_days_e3,
                CASE WHEN p.p_hat > 0
                     THEN CAST((z.z_hat * 1000000) // p.p_hat AS BIGINT) END AS rate_cents_day_e3
         FROM nz JOIN z USING (user_id) LEFT JOIN p USING (user_id)
         ORDER BY user_id""",
    "ts_ewma" ->
      """WITH RECURSIVE b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day, CAST(coalesce(b.cents, 0) AS BIGINT) AS cents,
                      CAST(row_number() OVER (PARTITION BY s.user_id ORDER BY s.day) AS BIGINT) AS rn
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              ew AS (
                SELECT user_id, rn, day, cents, cents AS e FROM f WHERE rn = 1
                UNION ALL
                SELECT f.user_id, f.rn, f.day, f.cents,
                       (1 * f.cents + 3 * ew.e) // 4
                FROM f JOIN ew ON f.user_id = ew.user_id AND f.rn = ew.rn + 1)
         SELECT user_id, day, cents AS value_cents, CAST(e AS BIGINT) AS ewma_cents
         FROM ew ORDER BY user_id, day""",
    "ts_backtest" ->
      """WITH RECURSIVE b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day, CAST(coalesce(b.cents, 0) AS BIGINT) AS cents,
                      CAST(row_number() OVER (PARTITION BY s.user_id ORDER BY s.day) AS BIGINT) AS rn
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              ew AS (
                SELECT user_id, rn, day, cents, cents AS e FROM f WHERE rn = 1
                UNION ALL
                SELECT f.user_id, f.rn, f.day, f.cents,
                       (1 * f.cents + 3 * ew.e) // 4
                FROM f JOIN ew ON f.user_id = ew.user_id AND f.rn = ew.rn + 1),
              l AS (SELECT user_id, cents,
                      lag(e) OVER (PARTITION BY user_id ORDER BY day) AS pe,
                      lag(cents) OVER (PARTITION BY user_id ORDER BY day) AS pn
                    FROM ew)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_evals,
                CAST(sum(abs(cents - pe)) AS BIGINT) AS err_ewma_cents,
                CAST(sum(abs(cents - pn)) AS BIGINT) AS err_naive_cents,
                CAST(CASE WHEN sum(abs(cents - pe)) < sum(abs(cents - pn))
                     THEN 1 ELSE 0 END AS BIGINT) AS beats_naive
         FROM l WHERE pe IS NOT NULL GROUP BY user_id ORDER BY user_id""",
    "ts_conformal" ->
      """WITH RECURSIVE b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day, CAST(coalesce(b.cents, 0) AS BIGINT) AS cents,
                      CAST(row_number() OVER (PARTITION BY s.user_id ORDER BY s.day) AS BIGINT) AS rn
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              ew AS (
                SELECT user_id, rn, day, cents, cents AS e FROM f WHERE rn = 1
                UNION ALL
                SELECT f.user_id, f.rn, f.day, f.cents,
                       (1 * f.cents + 3 * ew.e) // 4
                FROM f JOIN ew ON f.user_id = ew.user_id AND f.rn = ew.rn + 1),
              l AS (SELECT user_id, day, cents, e,
                      lag(e) OVER (PARTITION BY user_id ORDER BY day) AS pe,
                      row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rnd
                    FROM ew),
              res AS (SELECT user_id, abs(cents - pe) AS rres, day
                      FROM l WHERE pe IS NOT NULL),
              rk AS (SELECT user_id, rres,
                       CAST(row_number() OVER (PARTITION BY user_id
                                               ORDER BY rres, day) AS BIGINT) AS rnk
                     FROM res),
              c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_cal,
                      CAST(((count(*) + 1) * 900000 + 999999) // 1000000 AS BIGINT) AS q_rank
                    FROM res GROUP BY 1),
              q AS (SELECT c.user_id, CAST(rk.rres AS BIGINT) AS q_cents
                    FROM c JOIN rk ON rk.user_id = c.user_id AND rk.rnk = c.q_rank),
              lastv AS (SELECT user_id, CAST(e AS BIGINT) AS forecast_cents
                        FROM l WHERE rnd = 1)
         SELECT lastv.user_id, coalesce(c.n_cal, 0) AS n_cal, c.q_rank,
                CASE WHEN c.q_rank <= c.n_cal THEN q.q_cents END AS q_cents,
                lastv.forecast_cents,
                CASE WHEN c.q_rank <= c.n_cal
                     THEN lastv.forecast_cents - q.q_cents END AS lo_cents,
                CASE WHEN c.q_rank <= c.n_cal
                     THEN lastv.forecast_cents + q.q_cents END AS hi_cents
         FROM lastv LEFT JOIN c USING (user_id) LEFT JOIN q USING (user_id)
         ORDER BY user_id""",
    "ts_holt" ->
      """WITH RECURSIVE base AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM base GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, CAST(coalesce(base.cents, 0) AS BIGINT) AS cents,
                      CAST(row_number() OVER (PARTITION BY s.user_id ORDER BY s.day) AS BIGINT) AS rn
                    FROM spine s LEFT JOIN base USING (user_id, day)),
              hw AS (
                SELECT user_id, rn, cents AS l, CAST(0 AS BIGINT) AS tr FROM f WHERE rn = 1
                UNION ALL
                SELECT f.user_id, f.rn,
                       (1 * f.cents + 3 * (hw.l + hw.tr)) // 4 AS l,
                       (1 * (((1 * f.cents + 3 * (hw.l + hw.tr)) // 4) - hw.l)
                        + 1 * hw.tr) // 2 AS tr
                FROM f JOIN hw ON f.user_id = hw.user_id AND f.rn = hw.rn + 1),
              lastn AS (SELECT user_id, max(rn) AS n FROM hw GROUP BY 1)
         SELECT h.user_id, CAST(l.n AS BIGINT) AS n_days,
                CAST(h.l AS BIGINT) AS level_cents,
                CAST(h.tr AS BIGINT) AS trend_cents,
                CAST(h.l + 7 * h.tr AS BIGINT) AS forecast_cents
         FROM hw h JOIN lastn l ON l.user_id = h.user_id AND h.rn = l.n
         ORDER BY h.user_id""",
    "ts_holt_winters" -> holtWintersOracleSql(1, 4, 1, 8, 1, 4, 7, 7),
    "ts_islands" ->
      """WITH iv AS (SELECT user_id, event_type, date_trunc('week', ts) AS wk,
                      CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
                      CAST(floor(epoch(max(ts))) AS BIGINT) + 1 AS e
                    FROM events GROUP BY 1, 2, 3),
              m AS (SELECT user_id, s, e,
                      max(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
                    FROM iv),
              o AS (SELECT user_id, s, e,
                      CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS op FROM m),
              i AS (SELECT user_id, s, e,
                      sum(op) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
                    FROM o)
         SELECT user_id, CAST(min(s) AS BIGINT) AS island_start,
                CAST(max(e) AS BIGINT) AS island_end,
                CAST(count(*) AS BIGINT) AS n_intervals,
                CAST(max(e) - min(s) AS BIGINT) AS covered
         FROM i GROUP BY user_id, isl ORDER BY user_id, island_start""",
    "events_dow_profile" ->
      """WITH b AS (SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INT) AS dow,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
                    FROM events GROUP BY 1, 2)
         SELECT event_type, dow, n_events, value_cents,
                CAST((n_events * 1000000) // (sum(n_events) OVER (PARTITION BY event_type)) AS BIGINT) AS share_ppm
         FROM b ORDER BY event_type, dow""",
    "pipeline_benford" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c FROM lineitem),
              d AS (SELECT CASE WHEN c > 0 THEN CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) END AS digit FROM v),
              cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
              t AS (SELECT CAST(coalesce(sum(CASE WHEN digit IS NOT NULL THEN n END), 0) AS BIGINT) AS tot,
                           CAST(coalesce(sum(CASE WHEN digit IS NULL THEN n END), 0) AS BIGINT) AS exc
                    FROM cnt),
              b AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
                      (4, 96910), (5, 79181), (6, 66947), (7, 57992),
                      (8, 51153), (9, 45757)) x(digit, benford_ppm))
         SELECT CAST(b.digit AS INT) AS digit,
                CAST(coalesce(cnt.n, 0) AS BIGINT) AS n,
                CAST(CASE WHEN t.tot > 0 THEN (coalesce(cnt.n, 0) * 1000000) // t.tot ELSE 0 END AS BIGINT) AS obs_ppm,
                CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
                CAST(abs(CASE WHEN t.tot > 0 THEN (coalesce(cnt.n, 0) * 1000000) // t.tot ELSE 0 END - b.benford_ppm) AS BIGINT) AS dev_ppm,
                t.exc AS n_excluded
         FROM b LEFT JOIN cnt ON cnt.digit = b.digit CROSS JOIN t
         ORDER BY digit""",
    "events_wilson_ranking" ->
      """WITH per AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS campaign,
                        CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS pos
                      FROM events WHERE event_type = 'view'
                      GROUP BY 1)
         SELECT campaign, n, pos,
                CAST(floor(1e6 *
                  ((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
                    - 1.96 * sqrt((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                        + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
                   / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)))) AS BIGINT) AS wilson_ppm
         FROM per ORDER BY wilson_ppm DESC, campaign""",
    "events_rate_limit" ->
      """SELECT user_id, date_trunc('hour', ts) AS hour,
                CAST(count(*) AS BIGINT) AS n_events
         FROM events
         GROUP BY user_id, date_trunc('hour', ts)
         HAVING count(*) > 1
         ORDER BY user_id, hour""",
    "rel_basket_rules" ->
      """WITH bi0 AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                      FROM lineitem),
              kept AS (SELECT b FROM bi0 GROUP BY b HAVING count(*) <= 1000),
              bi AS (SELECT bi0.* FROM bi0 JOIN kept USING (b)),
              nb AS (SELECT CAST(count(DISTINCT b) AS HUGEINT) AS n FROM bi),
              isup AS (SELECT i, CAST(count(*) AS BIGINT) AS sup FROM bi GROUP BY i),
              psup AS (SELECT x.i AS a, y.i AS c, CAST(count(*) AS BIGINT) AS support
                       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
                       GROUP BY 1, 2 HAVING count(*) >= 3),
              rules AS (SELECT a, c, support FROM psup
                        UNION ALL SELECT c, a, support FROM psup)
         SELECT r.a AS antecedent, r.c AS consequent, r.support,
                CAST((CAST(r.support AS HUGEINT) * 1000000) // sa.sup AS BIGINT) AS conf_ppm,
                CAST((CAST(r.support AS HUGEINT) * nb.n * 1000000)
                  // (CAST(sa.sup AS HUGEINT) * sc.sup) AS BIGINT) AS lift_ppm
         FROM rules r JOIN isup sa ON sa.i = r.a JOIN isup sc ON sc.i = r.c
         CROSS JOIN nb
         ORDER BY lift_ppm DESC, conf_ppm DESC, antecedent, consequent
         LIMIT 25""",
    "pipeline_freshness" ->
      """WITH a AS (SELECT TIMESTAMP '2024-02-01 00:00:00' AS asof)
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ts,
                max(ts) AS last_ts,
                CAST(date_diff('day', CAST(max(ts) AS DATE), CAST(a.asof AS DATE)) AS INT) AS days_stale,
                CAST(sum(CASE WHEN ts >= a.asof - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
                CAST(sum(CASE WHEN ts >= a.asof - INTERVAL 30 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_30d,
                CAST((sum(CASE WHEN ts >= a.asof - INTERVAL 30 DAY THEN 1 ELSE 0 END) * 1000000)
                  // count(*) AS BIGINT) AS share_30d_ppm
         FROM events CROSS JOIN a
         GROUP BY event_type, a.asof ORDER BY event_type""",
    "ts_autocorrelation" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT event_type,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.event_type, s.day, CAST(coalesce(b.cents, 0) AS BIGINT) AS cents
                    FROM spine s LEFT JOIN b USING (event_type, day)),
              pairs AS (SELECT a.event_type, t.lag,
                          CAST(x.cents AS HUGEINT) AS x,
                          CAST(a.cents AS HUGEINT) AS y
                        FROM f a
                        CROSS JOIN range(1, 8) t(lag)
                        JOIN f x ON x.event_type = a.event_type
                               AND x.day = a.day - CAST(t.lag AS INT)),
              m AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
                      sum(x) AS sx,
                      sum(y) AS sy,
                      sum(x * y) AS sxy,
                      sum(x * x) AS sxx,
                      sum(y * y) AS syy
                    FROM pairs GROUP BY 1, 2)
         SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
                CASE WHEN n_pairs < 3
                       OR n_pairs * sxx - sx * sx = 0
                       OR n_pairs * syy - sy * sy = 0 THEN NULL
                     ELSE CAST(floor(1e6 *
                       (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                       (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                        sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) + 0.5) AS BIGINT)
                END AS r_ppm
         FROM m ORDER BY event_type, lag""",
    "ts_dow_adjusted" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day,
                      CAST(isodow(s.day) AS INT) AS dow,
                      CAST(coalesce(b.cents, 0) AS BIGINT) AS value_cents
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              m AS (SELECT user_id, dow,
                      CAST(sum(value_cents) // count(*) AS BIGINT) AS dow_mean_cents
                    FROM f GROUP BY 1, 2)
         SELECT f.user_id, f.day, f.dow, f.value_cents, m.dow_mean_cents,
                CAST(f.value_cents - m.dow_mean_cents AS BIGINT) AS residual_cents
         FROM f JOIN m ON m.user_id = f.user_id AND m.dow = f.dow
         ORDER BY f.user_id, f.day""",
    "rel_chi_square" ->
      """WITH obs AS (SELECT event_type AS r,
                        CAST(isodow(CAST(ts AS DATE)) AS VARCHAR) AS c,
                        CAST(count(*) AS HUGEINT) AS o
                      FROM events
                      WHERE event_type IS NOT NULL AND ts IS NOT NULL
                      GROUP BY 1, 2),
              rt AS (SELECT r, sum(o) AS rt FROM obs GROUP BY 1),
              ct AS (SELECT c, sum(o) AS ct FROM obs GROUP BY 1),
              nn AS (SELECT sum(o) AS n FROM obs),
              grid AS (SELECT rt.r, ct.c, coalesce(obs.o, 0) AS o, rt.rt, ct.ct
                       FROM rt CROSS JOIN ct
                       LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c),
              terms AS (SELECT g.r, g.c,
                          ((nn.n * g.o - g.rt * g.ct) * (nn.n * g.o - g.rt * g.ct) * 1000000)
                            // (nn.n * g.rt * g.ct) AS t
                        FROM grid g CROSS JOIN nn)
         SELECT CAST(nn.n AS BIGINT) AS n,
                CAST((SELECT count(*) FROM rt) AS BIGINT) AS r_card,
                CAST((SELECT count(*) FROM ct) AS BIGINT) AS c_card,
                CAST(((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
                CAST((SELECT sum(t) FROM terms) AS BIGINT) AS chi2_scaled
         FROM nn""",
    "rel_cramers_v" ->
      """WITH obs AS (SELECT event_type AS r,
                        CAST(isodow(CAST(ts AS DATE)) AS VARCHAR) AS c,
                        CAST(count(*) AS HUGEINT) AS o
                      FROM events
                      WHERE event_type IS NOT NULL AND ts IS NOT NULL
                      GROUP BY 1, 2),
              rt AS (SELECT r, sum(o) AS rt FROM obs GROUP BY 1),
              ct AS (SELECT c, sum(o) AS ct FROM obs GROUP BY 1),
              nn AS (SELECT sum(o) AS n FROM obs),
              grid AS (SELECT rt.r, ct.c, coalesce(obs.o, 0) AS o, rt.rt, ct.ct
                       FROM rt CROSS JOIN ct
                       LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c),
              terms AS (SELECT g.r, g.c,
                          ((nn.n * g.o - g.rt * g.ct) * (nn.n * g.o - g.rt * g.ct) * 1000000)
                            // (nn.n * g.rt * g.ct) AS t
                        FROM grid g CROSS JOIN nn),
              base AS (SELECT CAST(nn.n AS BIGINT) AS n,
                         CAST((SELECT count(*) FROM rt) AS BIGINT) AS r_card,
                         CAST((SELECT count(*) FROM ct) AS BIGINT) AS c_card,
                         CAST((SELECT sum(t) FROM terms) AS BIGINT) AS chi2_scaled
                       FROM nn)
         SELECT n, r_card, c_card, chi2_scaled,
                CASE WHEN n > 0 AND least(r_card - 1, c_card - 1) > 0
                  THEN CAST(floor(sqrt(CAST(chi2_scaled AS DOUBLE)
                    / (1000000.0 * CAST(n AS DOUBLE)
                      * CAST(least(r_card - 1, c_card - 1) AS DOUBLE))) * 1000000.0) AS BIGINT)
                END AS v_ppm
         FROM base""",
    "graph_assortativity" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
              und AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                      FROM li x JOIN li y
                        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              deg AS (SELECT n, CAST(count(*) AS HUGEINT) AS d FROM (
                        SELECT a AS n FROM und UNION ALL SELECT b FROM und)
                      GROUP BY n),
              pairs AS (SELECT da.d AS x, db.d AS y
                        FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b
                        UNION ALL
                        SELECT db.d, da.d
                        FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b),
              m AS (SELECT CAST(count(*) AS HUGEINT) AS nn, sum(x) AS sx,
                           sum(x * y) AS sxy, sum(x * x) AS sxx
                    FROM pairs)
         SELECT CAST(nn / 2 AS BIGINT) AS m_edges,
                CASE WHEN nn * sxx - sx * sx = 0 THEN NULL
                     ELSE CAST(floor(CAST(nn * sxy - sx * sx AS DOUBLE)
                       / CAST(nn * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                END AS r_ppm
         FROM m WHERE nn > 0""",
    "text_source_overlap" ->
      """WITH st AS (SELECT DISTINCT source AS s,
                      unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                        t -> len(t) > 0)) AS t
                    FROM documents WHERE source IS NOT NULL),
              sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1),
              inter AS (SELECT x.s AS s1, y.s AS s2, CAST(count(*) AS BIGINT) AS intersection
                        FROM st x JOIN st y ON x.t = y.t AND x.s < y.s
                        GROUP BY 1, 2)
         SELECT i.s1, i.s2, a.n AS n_s1, b.n AS n_s2, i.intersection,
                CAST((i.intersection * 1000000) // (a.n + b.n - i.intersection) AS BIGINT) AS jaccard_ppm
         FROM inter i JOIN sizes a ON a.s = i.s1 JOIN sizes b ON b.s = i.s2
         ORDER BY s1, s2""",
    "rel_ks_test" ->
      """WITH c AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
                      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
                    FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
                    GROUP BY 1),
              t AS (SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c2) AS HUGEINT) AS n2 FROM c),
              s AS (SELECT v,
                      CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS f1,
                      CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS f2
                    FROM c),
              d AS (SELECT s.v, abs(t.n2 * s.f1 - t.n1 * s.f2) AS dd FROM s CROSS JOIN t),
              best AS (SELECT v, dd FROM d ORDER BY dd DESC, v LIMIT 1)
         SELECT CAST(t.n1 AS BIGINT) AS n_a, CAST(t.n2 AS BIGINT) AS n_b,
                CAST(b.dd AS BIGINT) AS d_scaled,
                CAST((b.dd * 1000000) // (t.n1 * t.n2) AS BIGINT) AS d_ppm,
                b.v AS at_value
         FROM best b CROSS JOIN t""",
    "rel_mann_whitney" ->
      """WITH c AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
                      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
                    FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
                    GROUP BY 1),
              r AS (SELECT v, c1, c2,
                      coalesce(sum(c1 + c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                    FROM c),
              m AS (SELECT CAST(sum(c1) AS HUGEINT) AS na, CAST(sum(c2) AS HUGEINT) AS nb,
                      CAST(sum(CAST(c1 AS HUGEINT) * (2 * cb + c1 + c2 + 1)) AS HUGEINT) AS w2a,
                      CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS HUGEINT) AS tc
                    FROM r)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CAST(w2a - na * (na + 1) AS BIGINT) AS u2_a,
                CAST(tc AS BIGINT) AS tie_cubes,
                CASE WHEN na > 0 AND nb > 0
                      AND (na * nb * (((na + nb) * (na + nb) * (na + nb) - (na + nb)) - tc)) > 0
                  THEN CAST(floor((CAST(w2a - na * (na + 1) - na * nb AS DOUBLE)
                         - CAST(sign(w2a - na * (na + 1) - na * nb) AS DOUBLE)) * 1000.0
                       / (2.0 * sqrt(CAST(na * nb * (((na + nb) * (na + nb) * (na + nb) - (na + nb)) - tc) AS DOUBLE)
                                   / CAST(12 * (na + nb) * (na + nb - 1) AS DOUBLE)))) AS BIGINT)
                END AS z_milli
         FROM m WHERE na > 0 OR nb > 0""",
    "rel_kruskal" ->
      """WITH s AS (SELECT o_orderpriority AS g, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                    FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
              c AS (SELECT cents AS v, g, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
              pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM c GROUP BY 1),
              r AS (SELECT v, t,
                      coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                    FROM pv),
              pg AS (SELECT g, CAST(sum(c.c) AS HUGEINT) AS ng,
                       CAST(sum(CAST(c.c AS HUGEINT) * (2 * r.cb + r.t + 1)) AS HUGEINT) AS r2g
                     FROM c JOIN r USING (v) GROUP BY g),
              tt AS (SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tc FROM r),
              m AS (SELECT CAST(sum(ng) AS HUGEINT) AS n, CAST(count(*) AS BIGINT) AS k,
                      CAST(sum((r2g * r2g) // (4 * ng)) AS HUGEINT) AS s2
                    FROM pg)
         SELECT CAST(n AS BIGINT) AS n, k AS n_groups, CAST(tc AS BIGINT) AS tie_cubes,
                CASE WHEN n >= 2 AND ((n * n * n - n) - tc) > 0
                  THEN CAST(floor((12.0 * CAST(s2 AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                       - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                       * (CAST(n * n * n - n AS DOUBLE)
                         / CAST((n * n * n - n) - tc AS DOUBLE)) * 1000.0) AS BIGINT)
                END AS h_milli
         FROM m CROSS JOIN tt WHERE n > 0""",
    "rel_spearman" ->
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                      CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
                    FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
              rx AS (SELECT v, 2 * cb + t + 1 AS r2 FROM (
                       SELECT v, t, coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                       FROM (SELECT x AS v, CAST(count(*) AS BIGINT) AS t FROM b GROUP BY 1))),
              ry AS (SELECT v, 2 * cb + t + 1 AS r2 FROM (
                       SELECT v, t, coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                       FROM (SELECT y AS v, CAST(count(*) AS BIGINT) AS t FROM b GROUP BY 1))),
              j AS (SELECT rx.r2 AS ra, ry.r2 AS rb
                    FROM b JOIN rx ON b.x = rx.v JOIN ry ON b.y = ry.v),
              m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      CAST(sum(CAST(ra AS HUGEINT)) AS HUGEINT) AS sa,
                      CAST(sum(CAST(rb AS HUGEINT)) AS HUGEINT) AS sb,
                      CAST(sum(CAST(ra AS HUGEINT) * ra) AS HUGEINT) AS qa,
                      CAST(sum(CAST(rb AS HUGEINT) * rb) AS HUGEINT) AS qb,
                      CAST(sum(CAST(ra AS HUGEINT) * rb) AS HUGEINT) AS sab
                    FROM j)
         SELECT CAST(n AS BIGINT) AS n,
                CASE WHEN n >= 2 AND (n * qa - sa * sa) > 0 AND (n * qb - sb * sb) > 0
                  THEN CAST(floor(CAST(n * sab - sa * sb AS DOUBLE) * 1000000.0
                       / (sqrt(CAST(n * qa - sa * sa AS DOUBLE)) * sqrt(CAST(n * qb - sb * sb AS DOUBLE)))) AS BIGINT)
                END AS rho_ppm
         FROM m WHERE n > 0""",
    "rel_kendall_tau" ->
      """WITH sample AS (SELECT id, x, y FROM (
                SELECT (l_orderkey * 10 + l_linenumber) AS id,
                       CAST(l_quantity AS BIGINT) AS x,
                       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
                       row_number() OVER (ORDER BY
                         CAST('0x' || substr(md5('kt:' || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 15) AS BIGINT),
                         l_orderkey * 10 + l_linenumber,
                         CAST(l_quantity AS BIGINT),
                         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rn
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
              WHERE rn <= 2000),
              s AS (SELECT CAST(coalesce(sum(
                      CASE WHEN (a.x > b.x AND a.y > b.y) OR (a.x < b.x AND a.y < b.y) THEN 1
                           WHEN a.x <> b.x AND a.y <> b.y THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
                    FROM sample a JOIN sample b ON a.id < b.id),
              tx AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS tie_x
                     FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM sample GROUP BY x)),
              ty AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS tie_y
                     FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM sample GROUP BY y)),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sample)
         SELECT n, s_stat, tie_x, tie_y,
                CASE WHEN n >= 2 AND (n * (n - 1) // 2 - tie_x) > 0 AND (n * (n - 1) // 2 - tie_y) > 0
                  THEN CAST(floor(CAST(s_stat AS DOUBLE) * 1000.0
                       / (sqrt(CAST(n * (n - 1) // 2 - tie_x AS DOUBLE))
                        * sqrt(CAST(n * (n - 1) // 2 - tie_y AS DOUBLE)))) AS BIGINT)
                END AS tau_milli
         FROM nn CROSS JOIN s CROSS JOIN tx CROSS JOIN ty WHERE n > 0""",
    "events_cohort_ltv" ->
      """WITH first_seen AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
                            FROM events GROUP BY user_id),
              rev AS (SELECT f.cohort_day,
                        CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS INT) AS day_offset,
                        CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                      FROM events e JOIN first_seen f ON f.user_id = e.user_id
                      WHERE e.event_type = 'purchase'
                        AND date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) <= 7
                      GROUP BY 1, 2)
         SELECT cohort_day, day_offset, cents,
                CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS BIGINT) AS cum_cents
         FROM rev ORDER BY cohort_day, day_offset""",
    "dedup_golden_records" ->
      """WITH c AS (SELECT c_custkey % 500 AS grp, c_mktsegment, c_nationkey, c_custkey FROM customer),
              m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_members FROM c GROUP BY 1),
              s1 AS (SELECT grp, c_mktsegment AS v, count(*) AS n, max(c_custkey) AS t
                     FROM c WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2),
              g1 AS (SELECT grp, v AS golden_c_mktsegment FROM (
                       SELECT grp, v, row_number() OVER (PARTITION BY grp
                         ORDER BY n DESC, t DESC, v DESC) AS rn FROM s1) WHERE rn = 1),
              s2 AS (SELECT grp, c_nationkey AS v, count(*) AS n, max(c_custkey) AS t
                     FROM c WHERE c_nationkey IS NOT NULL GROUP BY 1, 2),
              g2 AS (SELECT grp, v AS golden_c_nationkey FROM (
                       SELECT grp, v, row_number() OVER (PARTITION BY grp
                         ORDER BY n DESC, t DESC, v DESC) AS rn FROM s2) WHERE rn = 1)
         SELECT m.grp, m.n_members, g1.golden_c_mktsegment, g2.golden_c_nationkey
         FROM m LEFT JOIN g1 USING (grp) LEFT JOIN g2 USING (grp)
         ORDER BY m.grp""",
    "events_rfm" ->
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                    FROM events WHERE event_type = 'purchase'),
              mx AS (SELECT max(day) AS d1 FROM p),
              u AS (SELECT user_id,
                      CAST(date_diff('day', max(day), (SELECT d1 FROM mx)) AS BIGINT) AS recency_days,
                      CAST(count(*) AS BIGINT) AS frequency,
                      CAST(sum(cents) AS BIGINT) AS monetary_cents
                    FROM p GROUP BY user_id),
              rb AS (SELECT CAST(floor(q * 100 + 0.5) AS BIGINT) AS c
                     FROM (SELECT unnest(quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8])) AS q FROM u)),
              fb AS (SELECT CAST(floor(q * 100 + 0.5) AS BIGINT) AS c
                     FROM (SELECT unnest(quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8])) AS q FROM u)),
              mb AS (SELECT CAST(floor(q * 100 + 0.5) AS BIGINT) AS c
                     FROM (SELECT unnest(quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8])) AS q FROM u)),
              x AS (SELECT u.*,
                      5 - (SELECT count(*) FROM rb WHERE u.recency_days * 100 > rb.c) AS r_score,
                      1 + (SELECT count(*) FROM fb WHERE u.frequency * 100 > fb.c) AS f_score,
                      1 + (SELECT count(*) FROM mb WHERE u.monetary_cents * 100 > mb.c) AS m_score
                    FROM u)
         SELECT user_id, recency_days, frequency, monetary_cents,
                CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
                CAST(m_score AS BIGINT) AS m_score,
                CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
         FROM x ORDER BY user_id""",
    "events_funnel_exclusion" ->
      """WITH st AS (SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS t0
               FROM events GROUP BY user_id),
              p AS (SELECT e.user_id, min(e.ts) AS t2
                    FROM events e JOIN st ON st.user_id = e.user_id
                    WHERE e.event_type = 'purchase' AND e.ts > st.t0
                    GROUP BY e.user_id),
              x AS (SELECT p.user_id,
                      sum(CASE WHEN e.event_type = 'error' AND e.ts > st.t0 AND e.ts < p.t2
                               THEN 1 ELSE 0 END) AS n_err
                    FROM p JOIN st ON st.user_id = p.user_id
                    JOIN events e ON e.user_id = p.user_id
                    GROUP BY p.user_id)
         SELECT CAST(sum(CASE WHEN st.t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                CAST(count(p.user_id) AS BIGINT) AS n_converted,
                CAST(sum(CASE WHEN x.n_err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
                CAST(CASE WHEN count(p.user_id) > 0
                     THEN (sum(CASE WHEN x.n_err = 0 THEN 1 ELSE 0 END) * 1000000) // count(p.user_id)
                     END AS BIGINT) AS clean_rate_ppm
         FROM st LEFT JOIN p ON p.user_id = st.user_id
                 LEFT JOIN x ON x.user_id = st.user_id""",
    "events_funnel_windowed" ->
      """WITH stage AS (SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS t0
               FROM events GROUP BY user_id),
              v AS (SELECT e.user_id, min(e.ts) AS t1
                    FROM events e JOIN stage st ON st.user_id = e.user_id
                    WHERE e.event_type = 'view' AND e.ts > st.t0
                      AND e.ts <= st.t0 + INTERVAL 7 DAY
                    GROUP BY e.user_id),
              p AS (SELECT e.user_id, min(e.ts) AS t2
                    FROM events e JOIN v ON v.user_id = e.user_id
                    WHERE e.event_type = 'purchase' AND e.ts > v.t1
                      AND e.ts <= v.t1 + INTERVAL 7 DAY
                    GROUP BY e.user_id)
         SELECT CAST(count(DISTINCT stage.user_id) AS BIGINT) AS n_signup,
                CAST(count(DISTINCT v.user_id) AS BIGINT) AS n_viewed_7d,
                CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_purchased_7d
         FROM stage
         LEFT JOIN v ON v.user_id = stage.user_id
         LEFT JOIN p ON p.user_id = stage.user_id
         WHERE stage.t0 IS NOT NULL""",
    "events_conversion_lag" ->
      """WITH su AS (SELECT user_id, min(ts) AS t0
                     FROM events WHERE event_type = 'signup' GROUP BY user_id),
              p AS (SELECT e.user_id, min(e.ts) AS t1
                    FROM events e JOIN su ON su.user_id = e.user_id
                    WHERE e.event_type = 'purchase' AND e.ts > su.t0
                    GROUP BY e.user_id)
         SELECT CAST(date_diff('day', CAST(su.t0 AS DATE), CAST(p.t1 AS DATE)) AS INT) AS lag_days,
                CAST(count(*) AS BIGINT) AS n_users
         FROM p JOIN su ON su.user_id = p.user_id
         GROUP BY 1 ORDER BY 1""",
    "text_templates" ->
      """WITH lines AS (SELECT concat(event_type, ' user=', user_id,
                        ' v=', CAST(floor(value * 100 + 0.5) AS BIGINT),
                        ' sess=', substr(md5(CAST(event_id AS VARCHAR)), 1, 12),
                        ' props=', props) AS line
                      FROM events),
              masked AS (SELECT regexp_replace(regexp_replace(regexp_replace(line,
                  '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', '<uuid>', 'g'),
                  '\b[0-9a-fA-F]{8,}\b', '<hex>', 'g'),
                  '[0-9]+(\.[0-9]+)?', '<n>', 'g') AS template
                FROM lines)
         SELECT template, CAST(count(*) AS BIGINT) AS n
         FROM masked GROUP BY 1 ORDER BY n DESC, template LIMIT 20""",
    "emb_class_prototypes" ->
      """WITH q AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                    FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
              dims AS (SELECT label, unnest(range(len(qv))) AS dim,
                              unnest(qv) AS v
                       FROM q),
              sums AS (SELECT label, dim, sum(v) AS s, count(*) AS n
                       FROM dims GROUP BY 1, 2),
              cent AS (SELECT label, list(s // n ORDER BY dim) AS cv
                       FROM sums GROUP BY label),
              scored AS (SELECT q.label, q.vec_id,
                  CASE WHEN list_sum(list_transform(c.cv, x -> x * x)) = 0 THEN NULL
                       ELSE CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1] * p[2])) AS DOUBLE)
                    / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
                     * sqrt(CAST(list_sum(list_transform(c.cv, x -> x * x)) AS DOUBLE))))) AS BIGINT) END AS cos_scaled
                FROM q JOIN cent c ON c.label = q.label),
              topk AS (SELECT label, vec_id, cos_scaled,
                  row_number() OVER (PARTITION BY label ORDER BY cos_scaled DESC, vec_id) AS rank
                FROM scored WHERE cos_scaled IS NOT NULL)
         SELECT CAST(label AS BIGINT) AS label, CAST(rank AS INT) AS rank,
                vec_id, cos_scaled
         FROM topk WHERE rank <= 5 ORDER BY label, rank""",
    "events_attribution" ->
      """WITH v AS (SELECT user_id, ts, event_id,
                      CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS campaign
                    FROM events WHERE event_type = 'view'),
              p AS (SELECT user_id, ts,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                    FROM events WHERE event_type = 'purchase'),
              m AS (SELECT p.cents, (
                      SELECT v.campaign FROM v
                      WHERE v.user_id = p.user_id AND v.ts <= p.ts
                        AND v.ts >= p.ts - INTERVAL 7 DAY
                      ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS campaign
                    FROM p)
         SELECT campaign, CAST(count(*) AS BIGINT) AS n_conversions,
                CAST(sum(cents) AS BIGINT) AS attributed_cents
         FROM m GROUP BY campaign ORDER BY campaign NULLS FIRST""",
    "events_trend" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id,
                      CAST(date_diff('day', DATE '1970-01-01', s.day) AS HUGEINT) AS x,
                      CAST(coalesce(b.cents, 0) AS HUGEINT) AS y
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              m AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
                           sum(x) AS sx, sum(y) AS sy,
                           sum(x * y) AS sxy, sum(x * x) AS sxx
                    FROM f GROUP BY 1 HAVING count(*) >= 2)
         SELECT user_id, CAST(n AS BIGINT) AS n_days,
                CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS slope_ppm
         FROM m ORDER BY user_id""",
    "events_changepoint" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day,
                      CAST(coalesce(b.cents, 0) AS HUGEINT) AS y
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              w AS (SELECT user_id, day,
                      CAST(row_number() OVER pk AS HUGEINT) AS k,
                      sum(y) OVER pk AS sk,
                      CAST(count(*) OVER (PARTITION BY user_id) AS HUGEINT) AS n,
                      sum(y) OVER (PARTITION BY user_id) AS sn
                    FROM f
                    WINDOW pk AS (PARTITION BY user_id ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              d AS (SELECT user_id, day, n, abs(n * sk - k * sn) AS dd,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY abs(n * sk - k * sn) DESC, day ASC) AS rn
                    FROM w WHERE k < n)
         SELECT user_id, day AS change_day, CAST(n AS BIGINT) AS n_days,
                CAST(dd AS BIGINT) AS score
         FROM d WHERE rn = 1 ORDER BY user_id""",
    "ts_cusum" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day,
                      CAST(coalesce(b.cents, 0) AS HUGEINT) AS y
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              o AS (SELECT user_id, day, y,
                      row_number() OVER pk AS i,
                      CAST(count(*) OVER (PARTITION BY user_id) AS HUGEINT) AS nd
                    FROM f
                    WINDOW pk AS (PARTITION BY user_id ORDER BY day)),
              base AS (SELECT user_id, sum(y) AS b0 FROM o WHERE i <= 7 GROUP BY 1),
              d AS (SELECT o.user_id, o.day, o.i, o.nd,
                      CASE WHEN o.i > 7 THEN 7 * o.y - base.b0 - 7 * 5000
                           ELSE CAST(0 AS HUGEINT) END AS dd
                    FROM o JOIN base USING (user_id)),
              p1 AS (SELECT user_id, day, i, nd,
                       sum(dd) OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
                     FROM d),
              p AS (SELECT user_id, day, i, nd, pp,
                      min(pp) OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
                    FROM p1),
              s AS (SELECT user_id, day, i, nd, pp - mn AS ss FROM p
                    WHERE nd > 7 AND i > 7)
         SELECT user_id, CAST(nd AS BIGINT) AS n_days,
                CAST(sum(CASE WHEN ss > 7 * 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
                min(CASE WHEN ss > 7 * 50000 THEN day END) AS first_alarm_day,
                CAST(max(ss) // 7 AS BIGINT) AS max_cusum_cents
         FROM s GROUP BY user_id, nd ORDER BY user_id""",
    "events_decile_lift" ->
      """WITH u AS (SELECT user_id,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend,
                      CAST(max(CASE WHEN event_type = 'purchase' AND value >= 300.0
                               THEN 1 ELSE 0 END) AS BIGINT) AS responder
                    FROM events GROUP BY 1),
              b AS (SELECT unnest(quantile_cont(spend,
                      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS q FROM u),
              bc AS (SELECT CAST(floor(q * 100 + 0.5) AS BIGINT) AS c FROM b),
              x AS (SELECT spend, responder,
                      (SELECT count(*) FROM bc WHERE u2.spend * 100 > bc.c) AS bucket
                    FROM u u2),
              a AS (SELECT CAST(bucket AS INT) AS bucket,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(responder) AS BIGINT) AS n_resp
                    FROM x GROUP BY 1),
              t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(n_resp) AS BIGINT) AS tx FROM a),
              cm AS (SELECT a.*, sum(n_resp) OVER (ORDER BY bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                     FROM a)
         SELECT cm.bucket, cm.n, cm.n_resp,
                CAST((cm.n_resp * 1000000) // cm.n AS BIGINT) AS resp_ppm,
                CASE WHEN t.tx > 0 THEN
                  CAST((CAST(cm.n_resp AS HUGEINT) * t.tn * 1000000)
                       // (CAST(cm.n AS HUGEINT) * t.tx) AS BIGINT) END AS lift_ppm,
                CASE WHEN t.tx > 0 THEN
                  CAST((cum * 1000000) // t.tx AS BIGINT) END AS cum_gain_ppm
         FROM cm CROSS JOIN t ORDER BY cm.bucket DESC""",
    "ts_cusum_deseasonal" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id, s.day,
                      CAST(isodow(s.day) AS INT) AS dow,
                      CAST(coalesce(b.cents, 0) AS BIGINT) AS value_cents
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              m AS (SELECT user_id, dow,
                      CAST(sum(value_cents) // count(*) AS BIGINT) AS dow_mean
                    FROM f GROUP BY 1, 2),
              rs AS (SELECT f.user_id, f.day,
                       CAST(f.value_cents - m.dow_mean AS HUGEINT) AS y
                     FROM f JOIN m ON m.user_id = f.user_id AND m.dow = f.dow),
              o AS (SELECT user_id, day, y,
                      row_number() OVER pk AS i,
                      CAST(count(*) OVER (PARTITION BY user_id) AS HUGEINT) AS nd
                    FROM rs
                    WINDOW pk AS (PARTITION BY user_id ORDER BY day)),
              base AS (SELECT user_id, sum(y) AS b0 FROM o WHERE i <= 7 GROUP BY 1),
              d AS (SELECT o.user_id, o.day, o.i, o.nd,
                      CASE WHEN o.i > 7 THEN 7 * o.y - base.b0 - 7 * 1000
                           ELSE CAST(0 AS HUGEINT) END AS dd
                    FROM o JOIN base USING (user_id)),
              p1 AS (SELECT user_id, day, i, nd,
                       sum(dd) OVER (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
                     FROM d),
              p AS (SELECT user_id, day, i, nd, pp,
                      min(pp) OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
                    FROM p1),
              s AS (SELECT user_id, day, i, nd, pp - mn AS ss FROM p
                    WHERE nd > 7 AND i > 7)
         SELECT user_id, CAST(nd AS BIGINT) AS n_days,
                CAST(sum(CASE WHEN ss > 7 * 30000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
                min(CASE WHEN ss > 7 * 30000 THEN day END) AS first_alarm_day,
                CAST(max(ss) // 7 AS BIGINT) AS max_cusum_cents
         FROM s GROUP BY user_id, nd ORDER BY user_id""",
    "events_bot_screen" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS t,
                      lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS p
                    FROM events),
              g AS (SELECT user_id, (t - p) // 1000 AS gap FROM o),
              agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                        CAST(floor(quantile_cont(gap, 0.5) * 2 + 0.5) AS BIGINT) AS median_gap_ms_x2
                      FROM g GROUP BY 1)
         SELECT user_id, n_events, median_gap_ms_x2,
                coalesce(n_events >= 60 AND median_gap_ms_x2 < 50000000, false) AS is_bot
         FROM agg ORDER BY user_id""",
    "pipeline_temporal_split" ->
      """WITH c AS (SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.8)) AS BIGINT) AS c1,
                      CAST(floor(quantile_cont(epoch_us(ts), 0.9)) AS BIGINT) AS c2
                    FROM events),
              a AS (SELECT CASE WHEN epoch_us(ts) <= c.c1 THEN 'train'
                                WHEN epoch_us(ts) <= c.c2 THEN 'val'
                                ELSE 'test' END AS split,
                           epoch_us(ts) AS t
                    FROM events CROSS JOIN c)
         SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(min(t) AS BIGINT) AS min_ts_micros,
                CAST(max(t) AS BIGINT) AS max_ts_micros
         FROM a GROUP BY 1 ORDER BY split""",
    "ts_mann_kendall" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id,
                      CAST(date_diff('day', DATE '1970-01-01', s.day) AS BIGINT) AS x,
                      CAST(coalesce(b.cents, 0) AS BIGINT) AS y
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              ss AS (SELECT a.user_id,
                       sum(CASE WHEN bb.y > a.y THEN 1 WHEN bb.y < a.y THEN -1 ELSE 0 END) AS s
                     FROM f a JOIN f bb ON bb.user_id = a.user_id AND bb.x > a.x
                     GROUP BY 1),
              ti AS (SELECT user_id,
                       CAST(sum(t) AS BIGINT) AS n,
                       CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
                     FROM (SELECT user_id, y, count(*) AS t FROM f GROUP BY 1, 2)
                     GROUP BY 1),
              v AS (SELECT ss.user_id, CAST(ss.s AS BIGINT) AS s_stat, ti.n,
                      n * (n - 1) * (2 * n + 5) - ti.tsum AS var18
                    FROM ss JOIN ti USING (user_id))
         SELECT user_id, n AS n_days, s_stat, var18,
                CASE WHEN var18 > 0
                     THEN CAST(floor((s_stat - sign(s_stat)) * 1000.0
                          / sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS BIGINT) END AS z_milli
         FROM v ORDER BY user_id""",
    "ts_theil_sen" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              f AS (SELECT s.user_id,
                      CAST(date_diff('day', DATE '1970-01-01', s.day) AS HUGEINT) AS x,
                      CAST(coalesce(b.cents, 0) AS HUGEINT) AS y
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nd FROM f GROUP BY 1),
              pr AS (SELECT a.user_id,
                       ((bb.y - a.y) * 1000000) // (bb.x - a.x) AS slope
                     FROM f a JOIN f bb ON bb.user_id = a.user_id AND bb.x > a.x),
              m AS (SELECT user_id, slope,
                      CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS m,
                      row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn
                    FROM pr)
         SELECT m.user_id, n.nd AS n_days, m.m AS n_pairs,
                CAST(slope AS BIGINT) AS slope_ppm_day
         FROM m JOIN n USING (user_id)
         WHERE rn = (m.m + 1) // 2 ORDER BY m.user_id""",
    "events_rolling_7d" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              g AS (SELECT s.user_id, s.day,
                      CAST(coalesce(b.n_events, 0) AS BIGINT) AS n_events,
                      CAST(coalesce(b.value_cents, 0) AS BIGINT) AS value_cents
                    FROM spine s LEFT JOIN b USING (user_id, day))
         SELECT user_id, day, n_events, value_cents,
                CAST(sum(n_events) OVER w AS BIGINT) AS roll_events,
                CAST(sum(value_cents) OVER w AS BIGINT) AS roll_cents
         FROM g
         WINDOW w AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, day""",
    "events_anomalies" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              g AS (SELECT s.user_id, s.day,
                      CAST(coalesce(b.value_cents, 0) AS BIGINT) AS value_cents
                    FROM spine s LEFT JOIN b USING (user_id, day)),
              win AS (SELECT user_id, day, value_cents,
                        CAST(count(*) OVER w AS BIGINT) AS base_days,
                        CAST(coalesce(sum(value_cents) OVER w, 0) AS BIGINT) AS base_sum,
                        CAST(coalesce(sum(value_cents * value_cents) OVER w, 0) AS BIGINT) AS ss
                      FROM g
                      WINDOW w AS (PARTITION BY user_id ORDER BY day
                                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT user_id, day, value_cents, base_days, base_sum,
                (base_days = 7 AND
                 (value_cents * base_days - base_sum) * (value_cents * base_days - base_sum)
                   > 4 * (base_days * ss - base_sum * base_sum)) AS is_anomaly
         FROM win ORDER BY user_id, day""",
    "events_forward_fill" ->
      """WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM b GROUP BY 1),
              spine AS (SELECT user_id,
                          CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                        FROM r),
              g AS (SELECT s.user_id, s.day,
                      CAST(coalesce(b.n_events, 0) AS BIGINT) AS n_events,
                      CAST(coalesce(b.value_cents, 0) AS BIGINT) AS value_cents
                    FROM spine s LEFT JOIN b USING (user_id, day))
         SELECT user_id, day, n_events, value_cents,
                CAST(last_value(CASE WHEN n_events > 0 THEN value_cents END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS ffill_cents
         FROM g ORDER BY user_id, day""",
    "pipeline_incremental_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
                CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  // CAST(count(*) AS BIGINT) AS avg_cents
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "pipeline_integrity_audit" ->
      """WITH p AS (SELECT DISTINCT o_orderkey AS pk FROM orders WHERE o_orderkey % 10 <> 0),
              j AS (SELECT l.l_orderkey AS fk, p.pk
                    FROM lineitem l LEFT JOIN p ON l.l_orderkey = p.pk)
         SELECT CAST(count(*) AS BIGINT) AS n_child,
                CAST(sum(CASE WHEN pk IS NULL AND fk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
                CAST(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
                CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(sum(CASE WHEN pk IS NULL AND fk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                          * 1000000 // CAST(count(*) AS BIGINT) END AS orphan_ppm
         FROM j""",
    "rel_join_explode_audit" ->
      """WITH lc AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_left
                     FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
              rc AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_right
                     FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1)
         SELECT key, n_left, n_right, CAST(n_left * n_right AS BIGINT) AS est_pairs
         FROM lc JOIN rc USING (key)
         ORDER BY est_pairs DESC, key LIMIT 10""",
    "emb_hard_negatives" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) qv FROM embeddings),
              scored AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                       CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(qq.qv, cc.qv), p -> p[1] * p[2])) AS DOUBLE)
                         / (sqrt(CAST(list_sum(list_transform(qq.qv, x -> x * x)) AS DOUBLE))
                          * sqrt(CAST(list_sum(list_transform(cc.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
                FROM q qq JOIN q cc ON qq.vec_id < 5 AND cc.vec_id <> qq.vec_id
                  AND cc.vec_id <> qq.vec_id + 37 AND cc.vec_id <> qq.vec_id + 74)
         SELECT query_id, rank, neighbor_id, cos_scaled FROM (
           SELECT query_id, neighbor_id, cos_scaled,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_scaled DESC, neighbor_id) AS INT) AS rank
           FROM scored) t
         WHERE rank <= 10
         ORDER BY query_id, rank""",
    "emb_mutual_pairs" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) qv FROM embeddings),
              scored AS (
                SELECT a.vec_id AS ia, b.vec_id AS ib,
                       CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS DOUBLE)
                         / (sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE))
                          * sqrt(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
                FROM q a JOIN q b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
              ab AS (SELECT ia, ib, cos_scaled,
                       row_number() OVER (PARTITION BY ia ORDER BY cos_scaled DESC, ib) AS r FROM scored),
              ba AS (SELECT ia, ib,
                       row_number() OVER (PARTITION BY ib ORDER BY cos_scaled DESC, ia) AS r FROM scored)
         SELECT ab.ia AS id_a, ab.ib AS id_b, ab.cos_scaled
         FROM ab JOIN ba ON ab.ia = ba.ia AND ab.ib = ba.ib AND ab.r = 1 AND ba.r = 1
         ORDER BY id_a""",
    "search_bm25" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(ws)) AS BIGINT) AS tot FROM w),
              tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
              p AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tok
                    WHERE term IN ('dup', 'spark', 'join') GROUP BY 1, 2, 3),
              d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
              i AS (SELECT term, (SELECT n FROM st) // df AS q FROM d),
              idf AS (SELECT term, 64 * length(printf('%b', q))
                        + (q * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', q)) - 1))
                        - 64 AS idf64 FROM i),
              sc AS (SELECT p.doc_id,
                       CAST(sum(idf.idf64 *
                         ((p.tf * 2200000000000) //
                          (p.tf * 1000000 + (12 * (250000 + (750000 * p.dl * 1000) //
                            ((SELECT tot FROM st) * 1000 // (SELECT n FROM st)))) // 10))) AS BIGINT)
                         AS score_ppm
                     FROM p JOIN idf USING (term) GROUP BY 1)
         SELECT CAST(rank AS INT) AS rank, doc_id, score_ppm FROM (
           SELECT row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS rank, doc_id, score_ppm
           FROM sc) t
         WHERE rank <= 10 ORDER BY rank""",
    "search_ndcg" -> {
      def lg(x: String) =
        s"(64 * length(printf('%b', $x)) + (($x) * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', $x)) - 1)) - 64)"
      def disc(x: String) = s"(${lg(x)} - 64)"
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> len(x) > 0) AS ws FROM documents),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(ws)) AS BIGINT) AS tot FROM w),
              tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
              p AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tok
                    WHERE term IN ('dup', 'spark', 'join') GROUP BY 1, 2, 3),
              d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
              i AS (SELECT term, (SELECT n FROM st) // df AS q FROM d),
              idf AS (SELECT term, ${lg("q")} AS idf64 FROM i),
              sc AS (SELECT p.term AS query, p.doc_id,
                       CAST(idf.idf64 *
                         ((p.tf * 2200000000000) //
                          (p.tf * 1000000 + (12 * (250000 + (750000 * p.dl * 1000) //
                            ((SELECT tot FROM st) * 1000 // (SELECT n FROM st)))) // 10))
                         AS BIGINT) AS score_ppm
                     FROM p JOIN idf USING (term)),
              runs AS (SELECT query, doc_id, rank FROM (
                SELECT query, doc_id,
                       row_number() OVER (PARTITION BY query
                         ORDER BY score_ppm DESC, doc_id) AS rank
                FROM sc) WHERE rank <= 20),
              truth AS (SELECT term AS query, doc_id,
                          CAST(least(count(*), 3) AS BIGINT) AS rel
                        FROM tok WHERE term IN ('dup', 'spark', 'join')
                        GROUP BY 1, 2),
              ideal AS (SELECT query, rel,
                          CAST(row_number() OVER (PARTITION BY query
                            ORDER BY rel DESC, doc_id) AS BIGINT) AS i
                        FROM truth),
              ia AS (SELECT query, CAST(count(*) AS BIGINT) AS n_rel,
                       CAST(sum(CASE WHEN i <= 10
                         THEN (((CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1) * 64000000)
                              // ${disc("(i + 1)")}
                         ELSE 0 END) AS BIGINT) AS idcg
                     FROM ideal GROUP BY 1),
              sr AS (SELECT r.query, r.rank, coalesce(t.rel, 0) AS g
                     FROM runs r LEFT JOIN truth t USING (query, doc_id)
                     WHERE r.rank <= 10),
              h AS (SELECT query, rank, g,
                      sum(CASE WHEN g >= 1 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY query ORDER BY rank) AS hits
                    FROM sr),
              agg AS (SELECT query,
                        CAST(sum((((CAST(1 AS BIGINT) << CAST(g AS INT)) - 1) * 64000000)
                          // ${disc("(rank + 1)")}) AS BIGINT) AS dcg,
                        min(CASE WHEN g >= 1 THEN rank END) AS r1,
                        CAST(sum(CASE WHEN g >= 1
                          THEN (hits * 1000000) // rank ELSE 0 END) AS BIGINT) AS apsum
                      FROM h GROUP BY 1)
         SELECT ia.query, ia.n_rel,
                CAST(coalesce((agg.dcg * 1000000) // ia.idcg, 0) AS BIGINT) AS ndcg_ppm,
                CAST(coalesce(1000000 // agg.r1, 0) AS BIGINT) AS mrr_ppm,
                CAST(coalesce(agg.apsum // least(ia.n_rel, 10), 0) AS BIGINT) AS ap_ppm
         FROM ia LEFT JOIN agg USING (query) ORDER BY ia.query"""
    },
    "search_keywords" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
              tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
              p AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2, 3),
              d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
              wt AS (SELECT p.doc_id, p.term,
                       CAST(((p.tf * 1000000) // p.dl) *
                         length(printf('%b', (SELECT n FROM st) // d.df)) AS BIGINT) AS weight_ppm
                     FROM p JOIN d USING (term)),
              r AS (SELECT doc_id, term, weight_ppm,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY weight_ppm DESC, term) AS rn
                    FROM wt)
         SELECT doc_id, CAST(rn AS INT) AS rank, term, weight_ppm
         FROM r WHERE rn <= 3 ORDER BY doc_id, rank""",
    "search_phrase" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS term FROM w),
              a AS (SELECT doc_id, pos FROM tok WHERE term = 'batch'),
              b AS (SELECT doc_id, pos FROM tok WHERE term = 'scan')
         SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    "text_collocations" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              g0 AS (SELECT doc_id, CASE WHEN len(ws) >= 2
                       THEN list_transform(range(len(ws) - 1), i -> [ws[i+1], ws[i+2]])
                       ELSE [] END AS bgs FROM w),
              g AS (SELECT unnest(bgs) AS bg FROM g0),
              bi AS (SELECT bg[1] AS w1, bg[2] AS w2, CAST(count(*) AS BIGINT) AS c_ab
                     FROM g GROUP BY 1, 2),
              ua AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM bi GROUP BY 1),
              ub AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b FROM bi GROUP BY 1),
              t AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t FROM bi),
              sc AS (SELECT bi.w1, bi.w2, bi.c_ab,
                       CAST(((bi.c_ab * 1000000) // ua.c_a) * (SELECT t FROM t) // ub.c_b AS BIGINT)
                         AS lift_ppm
                     FROM bi JOIN ua USING (w1) JOIN ub USING (w2)
                     WHERE bi.c_ab >= 10)
         SELECT CAST(rn AS INT) AS rank, w1, w2, c_ab AS n_ab, lift_ppm FROM (
           SELECT w1, w2, c_ab, lift_ppm,
                  row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS rn
           FROM sc) x
         WHERE rn <= 15 ORDER BY rank""",
    "emb_label_outliers" ->
      """WITH q AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                    FROM embeddings),
              comp AS (SELECT label, generate_subscripts(qv, 1) AS p, unnest(qv) AS x FROM q),
              cm AS (SELECT label, p, CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
                     FROM comp GROUP BY 1, 2),
              cent AS (SELECT label, list(c ORDER BY p) AS cv FROM cm GROUP BY 1),
              scored AS (SELECT q.label, q.vec_id,
                           CAST(floor(1e9 * (CAST(list_sum(list_transform(list_zip(q.qv, cent.cv), pr -> pr[1] * pr[2])) AS DOUBLE)
                             / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
                              * sqrt(CAST(list_sum(list_transform(cent.cv, x -> x * x)) AS DOUBLE))))) AS BIGINT) AS cos_scaled
                         FROM q JOIN cent USING (label))
         SELECT label, CAST(rn AS INT) AS rank, vec_id, cos_scaled FROM (
           SELECT label, vec_id, cos_scaled,
                  row_number() OVER (PARTITION BY label ORDER BY cos_scaled, vec_id) AS rn
           FROM scored) x
         WHERE rn <= 5 ORDER BY label, rank""",
    "pipeline_dataset_card" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(sum(len(text)) AS BIGINT) AS total_chars,
                CAST(count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')))
                     + coalesce(max(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
                  AS n_unique_texts,
                CAST(CASE WHEN count(*) = 0 THEN 0 ELSE
                  (count(*) - count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')))
                   - coalesce(max(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0))
                  * 1000000 // count(*) END AS BIGINT) AS dup_ppm
         FROM documents""",
    "text_oov_rate" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
              v AS (SELECT t FROM (SELECT t, count(*) AS n FROM tok GROUP BY 1
                                   ORDER BY n DESC, t LIMIT 500)),
              pd AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                            CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
                     FROM tok LEFT JOIN v ON v.t = tok.t GROUP BY 1)
         SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
                coalesce(n_oov, 0) AS n_oov,
                CAST(coalesce((1000000 * n_oov) // nullif(n_tokens, 0), 0) AS BIGINT) AS oov_ppm
         FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "pipeline_diversity_card" ->
      """WITH w AS (SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              toks AS (SELECT unnest(ws) AS t FROM w),
              bi AS (SELECT unnest([array_to_string(ws[i + 1 : i + 2], ' ')
                                    for i in range(len(ws) - 1)]) AS g FROM w),
              u AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                           CAST(count(DISTINCT t) AS BIGINT) AS u1 FROM toks),
              b AS (SELECT CAST(count(*) AS BIGINT) AS t2,
                           CAST(count(DISTINCT g) AS BIGINT) AS u2 FROM bi),
              d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         SELECT n_docs, n_tokens,
                CAST(coalesce((1000000 * u1) // nullif(n_tokens, 0), 0) AS BIGINT) AS uniq_unigram_ppm,
                CAST(coalesce((1000000 * u2) // nullif(t2, 0), 0) AS BIGINT) AS uniq_bigram_ppm
         FROM d, u, b""",
    "pipeline_k_anonymity" ->
      """SELECT user_id % 25 AS user_bucket, event_type, CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         GROUP BY 1, 2, 3 HAVING count(*) < 5
         ORDER BY user_bucket, event_type, day""",
    "pipeline_e2e_curation" ->
      """WITH norm AS (SELECT doc_id, lang, nfc_normalize(text) AS text FROM documents),
              dd AS (SELECT doc_id, lang, text,
                       min(doc_id) OVER (PARTITION BY
                         md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS keeper
                     FROM norm),
              kept AS (SELECT doc_id, lang, text FROM dd WHERE doc_id = keeper),
              samp AS (SELECT doc_id, lang, text FROM kept
                       WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                             + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                             < CASE lang WHEN 'en' THEN 192 WHEN 'de' THEN 128 ELSE 64 END)
         SELECT doc_id, lang,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens
         FROM samp ORDER BY doc_id""",
    "pipeline_weighted_sample" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) * 1000000
               < LEAST(1000000, n_chars * 2000) * 65536
         ORDER BY doc_id""",
    "pipeline_snapshot_diff" ->
      """WITH v2 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
              o AS (SELECT doc_id, md5(text) AS ho FROM documents),
              n AS (SELECT doc_id, md5(text) AS hn FROM v2)
         SELECT doc_id,
                CASE WHEN ho IS NULL THEN 'added'
                     WHEN hn IS NULL THEN 'removed'
                     WHEN ho <> hn THEN 'changed' END AS change
         FROM o FULL OUTER JOIN n USING (doc_id)
         WHERE (ho IS NULL OR hn IS NULL OR ho <> hn)
         ORDER BY doc_id""",
    "search_rrf" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(ws)) AS BIGINT) AS tot FROM w),
              tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
              p AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tok
                    WHERE term IN ('dup', 'spark', 'join') GROUP BY 1, 2, 3),
              d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
              i AS (SELECT term, (SELECT n FROM st) // df AS q FROM d),
              idf AS (SELECT term, 64 * length(printf('%b', q))
                        + (q * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', q)) - 1))
                        - 64 AS idf64 FROM i),
              sc AS (SELECT p.doc_id,
                       CAST(sum(idf.idf64 *
                         ((p.tf * 2200000000000) //
                          (p.tf * 1000000 + (12 * (250000 + (750000 * p.dl * 1000) //
                            ((SELECT tot FROM st) * 1000 // (SELECT n FROM st)))) // 10))) AS BIGINT)
                         AS score_ppm
                     FROM p JOIN idf USING (term) GROUP BY 1),
              bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS rank FROM sc),
              lpr AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank FROM documents),
              u AS (SELECT doc_id, rank FROM bmr WHERE rank <= 100
                    UNION ALL SELECT doc_id, rank FROM lpr WHERE rank <= 100),
              f AS (SELECT doc_id, sum(1000000 // (60 + rank)) AS s FROM u GROUP BY doc_id)
         SELECT CAST(rank AS INT) AS rank, doc_id, CAST(s AS BIGINT) AS score_ppm FROM (
           SELECT row_number() OVER (ORDER BY s DESC, doc_id) AS rank, doc_id, s FROM f) t
         WHERE rank <= 10 ORDER BY rank""",
    "search_hybrid" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(ws)) AS BIGINT) AS tot FROM w),
              tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
              p AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf FROM tok
                    WHERE term IN ('batch', 'scan') GROUP BY 1, 2, 3),
              d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
              i AS (SELECT term, (SELECT n FROM st) // df AS q FROM d),
              idf AS (SELECT term, 64 * length(printf('%b', q))
                        + (q * 64) // (CAST(1 AS BIGINT) << (length(printf('%b', q)) - 1))
                        - 64 AS idf64 FROM i),
              bm AS (SELECT p.doc_id,
                       CAST(sum(idf.idf64 *
                         ((p.tf * 2200000000000) //
                          (p.tf * 1000000 + (12 * (250000 + (750000 * p.dl * 1000) //
                            ((SELECT tot FROM st) * 1000 // (SELECT n FROM st)))) // 10))) AS BIGINT)
                         AS bmv
                     FROM p JOIN idf USING (term) GROUP BY 1),
              pos AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS term FROM w),
              ph AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS np
                     FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                     WHERE a.term = 'batch' AND b.term = 'scan' GROUP BY 1),
              sc AS (SELECT bm.doc_id,
                       CAST(bm.bmv + 64000000 * coalesce(ph.np, 0) AS BIGINT) AS score_ppm
                     FROM bm LEFT JOIN ph USING (doc_id))
         SELECT CAST(rank AS INT) AS rank, doc_id, score_ppm FROM (
           SELECT row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS rank, doc_id, score_ppm
           FROM sc) t
         WHERE rank <= 15 ORDER BY rank""",
    "search_snippets" ->
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0) AS ws FROM documents),
              p AS (SELECT doc_id, ws,
                      LEAST(nullif(list_position(ws, 'dup'), 0),
                            nullif(list_position(ws, 'window'), 0)) AS pos
                    FROM w)
         SELECT doc_id,
                array_to_string(ws[greatest(pos - 3, 1) : pos + 3], ' ') AS snippet
         FROM p WHERE pos IS NOT NULL ORDER BY doc_id""",
    "sessionize_events" ->
      """WITH g AS (SELECT user_id, ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_ts
                    FROM events),
              m AS (SELECT user_id, ts, event_id,
                      CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END is_new
                    FROM g),
              sid AS (SELECT user_id, ts,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) session_id
                      FROM m)
         SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events
         FROM sid GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "events_session_stats" ->
      """WITH g AS (SELECT user_id, ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_ts
                    FROM events),
              m AS (SELECT user_id, ts, event_id,
                      CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END is_new
                    FROM g),
              sid AS (SELECT user_id, ts,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) session_id
                      FROM m),
              sess AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
                         CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS dur_s
                       FROM sid GROUP BY user_id, session_id),
              a AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                      CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
                      CAST(sum(n_events) AS BIGINT) AS n_events_total,
                      CAST(sum(dur_s) AS BIGINT) AS dur_s_total,
                      CAST(floor(quantile_cont(dur_s, 0.5) * 100 + 0.5) AS BIGINT) AS p50_dur_cs,
                      CAST(floor(quantile_cont(dur_s, 0.9) * 100 + 0.5) AS BIGINT) AS p90_dur_cs
                    FROM sess)
         SELECT n_sessions, n_bounces,
                CAST((n_bounces * 1000000) // n_sessions AS BIGINT) AS bounce_ppm,
                n_events_total // n_sessions AS mean_depth,
                dur_s_total // n_sessions AS mean_dur_s,
                p50_dur_cs, p90_dur_cs
         FROM a""",
    "stream_window_agg" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events
         GROUP BY date_trunc('hour', ts), event_type
         ORDER BY h, event_type""")
}
