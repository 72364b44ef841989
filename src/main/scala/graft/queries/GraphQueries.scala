package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.{Funnel, GraphOps}

/** Graph/behavioral analytics: multi-stage conversion funnels over the
  * event stream and co-occurrence graph + triangle counting over the
  * order line items — both exactly replayable in the DuckDB oracle.
  */
object GraphQueries {

  /** Three-stage conversion funnel view → click → purchase, each stage
    * within 2 hours of the previous, anchored at each user's FIRST
    * view. Emits per-user stage timestamps (exact micros — NULL where
    * the funnel broke) and the reached stage; both engines run the
    * identical chained filtered-min semantics. */
  val stFunnel: Q = Q.sql(
    "st_funnel",
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 ON s1.user_id = e.user_id
      |  WHERE e.event_type = 'click'
      |    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 2 HOUR
      |  GROUP BY 1
      |), s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 ON s2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 2 HOUR
      |  GROUP BY 1
      |)
      |SELECT s1.user_id,
      |  CAST(epoch_us(t1) AS BIGINT) AS t1_us,
      |  CAST(epoch_us(t2) AS BIGINT) AS t2_us,
      |  CAST(epoch_us(t3) AS BIGINT) AS t3_us,
      |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
      |            WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
      |    AS reached_stage
      |FROM s1
      |LEFT JOIN s2 ON s2.user_id = s1.user_id
      |LEFT JOIN s3 ON s3.user_id = s1.user_id
      |ORDER BY s1.user_id""".stripMargin) { (s, d) =>
    Funnel.funnel(Tables.events(s, d), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), "2 hours")
      .select(col("user_id"),
        unix_micros(col("t_1")).as("t1_us"),
        unix_micros(col("t_2")).as("t2_us"),
        unix_micros(col("t_3")).as("t3_us"),
        col("reached_stage"))
      .orderBy("user_id")
  }

  /** Co-purchase graph (parts co-occurring in ≥2 orders) + triangle
    * count via the degree-oriented enumeration; emits the top-10
    * highest-degree parts with their local triangle counts plus the
    * global edge/triangle totals — graph construction, orientation,
    * wedge closure, and the final counts all hash-gated against the
    * same arithmetic in DuckDB. */
  val gTriangles: Q = Q.sql(
    "g_copurchase_triangles",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
      |), edges AS (
      |  SELECT a.item AS src, b.item AS dst,
      |    CAST(COUNT(*) AS BIGINT) AS support
      |  FROM li a JOIN li b ON b.g = a.g AND a.item < b.item
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |), deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |    SELECT src AS node FROM edges
      |    UNION ALL SELECT dst FROM edges)
      |  GROUP BY 1
      |), oriented AS (
      |  SELECT
      |    CASE WHEN ds.degree < dd.degree
      |           OR (ds.degree = dd.degree AND e.src < e.dst)
      |         THEN e.src ELSE e.dst END AS lo,
      |    CASE WHEN ds.degree < dd.degree
      |           OR (ds.degree = dd.degree AND e.src < e.dst)
      |         THEN e.dst ELSE e.src END AS hi
      |  FROM edges e
      |  JOIN deg ds ON ds.node = e.src
      |  JOIN deg dd ON dd.node = e.dst
      |), wedges AS (
      |  SELECT w1.lo, w1.hi AS x, w2.hi AS y
      |  FROM oriented w1 JOIN oriented w2
      |    ON w2.lo = w1.lo AND w1.hi < w2.hi
      |), closing AS (
      |  SELECT lo AS x, hi AS y FROM oriented
      |  UNION ALL SELECT hi, lo FROM oriented
      |), tri AS (
      |  SELECT LEAST(w.lo, w.x, w.y) AS a,
      |    w.lo + w.x + w.y - LEAST(w.lo, w.x, w.y)
      |      - GREATEST(w.lo, w.x, w.y) AS b,
      |    GREATEST(w.lo, w.x, w.y) AS c
      |  FROM wedges w JOIN closing cl ON cl.x = w.x AND cl.y = w.y
      |), ntri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri
      |), nedge AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
      |), nodetri AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS node_triangles FROM (
      |    SELECT a AS node FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY 1
      |), top AS (
      |  SELECT node, degree, CAST(ROW_NUMBER() OVER (
      |    ORDER BY degree DESC, node) AS BIGINT) AS rank
      |  FROM deg QUALIFY rank <= 10
      |)
      |SELECT t.rank, t.node, t.degree,
      |  COALESCE(nt.node_triangles, CAST(0 AS BIGINT)) AS node_triangles,
      |  ne.n_edges, ntr.n_triangles
      |FROM top t
      |LEFT JOIN nodetri nt ON nt.node = t.node
      |CROSS JOIN nedge ne CROSS JOIN ntri ntr
      |ORDER BY t.rank""".stripMargin) { (s, d) =>
    val edges = GraphOps.coOccurrenceEdges(Tables.lineitem(s, d),
      "l_orderkey", "l_partkey", minSupport = 2L)
    val deg = GraphOps.degrees(edges)
    val tri = GraphOps.triangles(edges)
    val nodeTri = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).cast("long").as("node_triangles"))
    val globals = edges.agg(count(lit(1)).cast("long").as("n_edges"))
      .crossJoin(tri.agg(count(lit(1)).cast("long").as("n_triangles")))
    deg.orderBy(col("degree").desc, col("node")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("degree").desc, col("node"))).cast("long"))
      .join(nodeTri, Seq("node"), "left")
      .crossJoin(broadcast(globals))
      .select(col("rank"), col("node"), col("degree"),
        coalesce(col("node_triangles"), lit(0L)).as("node_triangles"),
        col("n_edges"), col("n_triangles"))
      .orderBy("rank")
  }

  /** COHORT RETENTION — the signup-cohort activity matrix: users
    * grouped by the ISO week of their FIRST signup event, then for
    * each later week-offset, how many of that cohort were active (any
    * event). One min-aggregate for the cohort anchor, one distinct
    * (user, week) projection, one join, one (cohort, offset) rollup —
    * all user-keyed or cohort-keyed shuffles, map-side combined.
    * Week truncation is ISO-Monday in BOTH engines (Spark
    * date_trunc('week') and DuckDB DATE_TRUNC('week')); offsets are
    * exact integer day-diffs div 7 on week-aligned dates. */
  val stCohort: Q = Q.sql(
    "st_cohort_retention",
    """WITH su AS (
      |  SELECT user_id,
      |    CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY 1
      |), act AS (
      |  SELECT DISTINCT e.user_id,
      |    CAST(DATE_TRUNC('week', e.ts) AS DATE) AS act_week
      |  FROM events e
      |), m AS (
      |  SELECT su.cohort_week, act.act_week, su.user_id
      |  FROM su JOIN act ON act.user_id = su.user_id
      |  WHERE act.act_week >= su.cohort_week
      |), sizes AS (
      |  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
      |  FROM su GROUP BY 1
      |)
      |SELECT CAST(m.cohort_week AS VARCHAR) AS cohort_week,
      |  CAST(DATEDIFF('day', m.cohort_week, m.act_week) // 7 AS BIGINT)
      |    AS week_offset,
      |  CAST(COUNT(DISTINCT m.user_id) AS BIGINT) AS n_active,
      |  s.n_cohort
      |FROM m JOIN sizes s ON s.cohort_week = m.cohort_week
      |GROUP BY 1, 2, s.n_cohort
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val su = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date")
        .as("cohort_week"))
    val act = e.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("act_week"))
      .distinct()
    val sizes = su.groupBy(col("cohort_week"))
      .agg(count(lit(1)).cast("long").as("n_cohort"))
    su.join(act, Seq("user_id"))
      .filter(col("act_week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        expr("datediff(act_week, cohort_week) div 7")
          .cast("long").as("week_offset"))
      .agg(count_distinct(col("user_id")).cast("long").as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"), col("n_active"), col("n_cohort"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Integer-exact PageRank (3 rounds, damping 0.85, BIGINT-millionth
    * ranks) over the co-purchase graph — the full iteration chain
    * replayed in SQL, so initialization, per-neighbor integer
    * division, damped sums, and the final ranking are all hash-gated.
    * Top-20 by (pr DESC, node). */
  val gPageRank: Q = Q.sql(
    "g_pagerank",
    s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
      |), edges AS (
      |  SELECT a.item AS src, b.item AS dst
      |  FROM li a JOIN li b ON b.g = a.g AND a.item < b.item
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |)${GraphOps.pageRankOracleCtes(3)}
      |SELECT rank_pos, node, deg, pr FROM (
      |  SELECT node, deg, pr, CAST(ROW_NUMBER() OVER (
      |    ORDER BY pr DESC, node) AS BIGINT) AS rank_pos
      |  FROM pr3
      |) WHERE rank_pos <= 20
      |ORDER BY rank_pos""".stripMargin) { (s, d) =>
    val edges = GraphOps.coOccurrenceEdges(Tables.lineitem(s, d),
      "l_orderkey", "l_partkey", minSupport = 2L)
      .select("src", "dst")
    GraphOps.pageRank(edges, iters = 3)
      .orderBy(col("pr").desc, col("node")).limit(20)
      .withColumn("rank_pos", row_number().over(
        Window.orderBy(col("pr").desc, col("node"))).cast("long"))
      .select("rank_pos", "node", "deg", "pr")
      .orderBy("rank_pos")
  }

  /** TOP BEHAVIORAL PATHS — the "what do users actually do" query:
    * per (user, day) session, the ordered chain of the first 8 event
    * types, then the 20 most frequent chains. Path assembly uses the
    * order-preserving reassembly pattern (rank under a WindowGroupLimit
    * window, `sort_array(collect_list(struct(rn, type)))` — the r08
    * discipline; the `transform` HOF touches ≤8 elements per SESSION
    * row); the DuckDB twin assembles the identical string with
    * STRING_AGG ORDER BY under the same rank cap, so path content,
    * order, truncation, and the final ranking are all hash-gated. */
  val stTopPaths: Q = Q.sql(
    "st_top_paths",
    """WITH ranked AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |      ORDER BY ts, event_id) AS rn
      |  FROM events
      |), paths AS (
      |  SELECT user_id, day,
      |    STRING_AGG(event_type, '>' ORDER BY rn) AS path
      |  FROM ranked WHERE rn <= 8 GROUP BY 1, 2
      |), counts AS (
      |  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      |  FROM paths GROUP BY 1
      |)
      |SELECT rank, path, n_sessions FROM (
      |  SELECT path, n_sessions, CAST(ROW_NUMBER() OVER (
      |    ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
      |  FROM counts
      |) WHERE rank <= 20
      |ORDER BY rank""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val ranked = e.select(col("user_id"),
        col("ts").cast("date").as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= 8)
    val paths = ranked.groupBy(col("user_id"), col("day"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("rn"), col("event_type")))),
          p => p.getField("event_type")), ">").as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).cast("long").as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))).cast("long"))
      .select("rank", "path", "n_sessions")
      .orderBy("rank")
  }

  /** Bounded multi-source BFS over the co-purchase graph
    * ([[GraphOps.bfsHops]]): hop distance from the two highest-degree
    * parts (ties to the smaller id), 3 rounds — the blast-radius /
    * related-items primitive. The oracle replays each frontier
    * expansion + MIN-combine round as its own CTE, so the whole
    * iteration is hash-gated; unreached nodes are absent in both
    * engines. */
  val gBfsHops: Q = Q.sql(
    "g_bfs_hops",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
      |), edges AS (
      |  SELECT a.item AS src, b.item AS dst,
      |    CAST(COUNT(*) AS BIGINT) AS support
      |  FROM li a JOIN li b ON b.g = a.g AND a.item < b.item
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |), dirs AS (
      |  SELECT src AS u, dst AS v FROM edges
      |  UNION ALL SELECT dst, src FROM edges
      |), deg AS (
      |  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
      |  FROM dirs GROUP BY 1
      |), seeds AS (
      |  SELECT node FROM deg ORDER BY degree DESC, node LIMIT 2
      |), d0 AS (
      |  SELECT node, CAST(0 AS BIGINT) AS hops FROM seeds
      |), d1 AS (
      |  SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM (
      |    SELECT node, hops FROM d0
      |    UNION ALL
      |    SELECT e.v, d.hops + 1 FROM d0 d
      |    JOIN dirs e ON e.u = d.node WHERE d.hops = 0
      |  ) GROUP BY 1
      |), d2 AS (
      |  SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM (
      |    SELECT node, hops FROM d1
      |    UNION ALL
      |    SELECT e.v, d.hops + 1 FROM d1 d
      |    JOIN dirs e ON e.u = d.node WHERE d.hops = 1
      |  ) GROUP BY 1
      |), d3 AS (
      |  SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM (
      |    SELECT node, hops FROM d2
      |    UNION ALL
      |    SELECT e.v, d.hops + 1 FROM d2 d
      |    JOIN dirs e ON e.u = d.node WHERE d.hops = 2
      |  ) GROUP BY 1
      |)
      |SELECT node, hops FROM d3 ORDER BY node""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
      .distinct()
    // materialize the co-occurrence self-join ONCE: it feeds the seed
    // ranking AND every BFS round's checkpointed lineage (the pageRank
    // between-plans lesson — GraphOps.pageRank scaladoc)
    val edges = GraphOps.coOccurrenceEdges(li, "g", "item", minSupport = 2)
      .localCheckpoint(true)
    val seeds = GraphOps.degrees(edges)
      .orderBy(col("degree").desc, col("node")).limit(2)
      .select("node")
    GraphOps.bfsHops(edges, seeds, maxHops = 3).orderBy("node")
  }

  /** MULTI-TOUCH ATTRIBUTION — the general form of the reference's
    * single-model attribution window (J12, orders→shows): every
    * purchase's value is credited to the view/click touches of the
    * same user in the preceding 2 h under THREE models at once —
    * linear (equal split), first-touch, last-touch — with
    * touch-free purchases credited to 'direct'. All credit math is
    * INTEGER micro-units (value → exact cents → ×10⁴), split by
    * floor division with the remainder assigned to the first touch,
    * so every model conserves the total to the unit and both engines
    * agree bit-for-bit (no double division anywhere — the README
    * determinism rules ban value/n when n can be a power of two).
    *
    * Scale shape: ONE user-keyed equi join with a bounded 2 h time
    * predicate (the interval-join shape AQE handles), then windows
    * partitioned by conversion id (unique key — no skew) and one
    * channel-keyed aggregate. No cross join, no driver loop. */
  val aAttrMultiTouch: Q = Q.sql(
    "a_attr_multitouch",
    """WITH conv AS (
      |  SELECT event_id AS conv_id, user_id, ts AS pts,
      |    CAST(ROUND(value * 100) AS BIGINT) * 10000 AS micro
      |  FROM events WHERE event_type = 'purchase'
      |), touch AS (
      |  SELECT user_id, event_id AS touch_id, ts,
      |    'ch' || CAST(CAST(regexp_extract(props, '[0-9]+') AS INT) % 5
      |      AS VARCHAR) AS channel
      |  FROM events WHERE event_type IN ('view', 'click')
      |), joined AS (
      |  SELECT c.conv_id, c.micro, t.touch_id, t.channel,
      |    ROW_NUMBER() OVER (PARTITION BY c.conv_id
      |      ORDER BY t.ts, t.touch_id) AS rk_first,
      |    ROW_NUMBER() OVER (PARTITION BY c.conv_id
      |      ORDER BY t.ts DESC, t.touch_id DESC) AS rk_last,
      |    COUNT(t.touch_id) OVER (PARTITION BY c.conv_id) AS n_touch
      |  FROM conv c LEFT JOIN touch t
      |    ON t.user_id = c.user_id AND t.ts < c.pts
      |    AND t.ts >= c.pts - INTERVAL 2 HOUR
      |)
      |SELECT COALESCE(channel, 'direct') AS channel,
      |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
      |  CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
      |  CAST(SUM(micro // GREATEST(n_touch, 1) +
      |    CASE WHEN rk_first = 1 THEN micro % GREATEST(n_touch, 1)
      |         ELSE 0 END) AS BIGINT) AS linear_micro,
      |  CAST(SUM(CASE WHEN rk_first = 1 THEN micro ELSE 0 END)
      |    AS BIGINT) AS first_touch_micro,
      |  CAST(SUM(CASE WHEN rk_last = 1 THEN micro ELSE 0 END)
      |    AS BIGINT) AS last_touch_micro
      |FROM joined
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("pts"),
        (round(col("value") * 100).cast("long") * 10000L).as("micro"))
    // both sides derive from the same scan — rename the touch keys so
    // the self-join condition resolves by name, not by lineage heuristic
    val touch = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"),
        col("event_id").as("touch_id"), col("ts"),
        concat(lit("ch"),
          (regexp_extract(col("props"), "[0-9]+", 0).cast("int") % 5)
            .cast("string")).as("channel"))
    val joined = conv.join(touch,
        col("t_user") === col("user_id") &&
          col("ts") < col("pts") &&
          col("ts") >= col("pts") - expr("INTERVAL 2 HOURS"),
        "left")
    val byConv = Window.partitionBy(col("conv_id"))
    val n0 = greatest(col("n_touch"), lit(1L))
    joined.select(col("conv_id"), col("micro"), col("touch_id"),
        col("channel"),
        row_number().over(byConv.orderBy(col("ts"), col("touch_id")))
          .as("rk_first"),
        row_number().over(
          byConv.orderBy(col("ts").desc, col("touch_id").desc))
          .as("rk_last"),
        count(col("touch_id")).over(byConv).as("n_touch"))
      .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
      .agg(
        count_distinct(col("conv_id")).cast("long").as("n_conversions"),
        count(col("touch_id")).cast("long").as("n_touches"),
        sum(expr("micro div greatest(n_touch, 1L)") +
          when(col("rk_first") === 1, col("micro") % n0).otherwise(0L))
          .cast("long").as("linear_micro"),
        sum(when(col("rk_first") === 1, col("micro")).otherwise(0L))
          .cast("long").as("first_touch_micro"),
        sum(when(col("rk_last") === 1, col("micro")).otherwise(0L))
          .cast("long").as("last_touch_micro"))
      .orderBy("channel")
  }

  /** COMMUNITY QUALITY via INTEGER-exact MODULARITY — the metric that
    * turns "we clustered the graph" into a measured claim: for a
    * partition P, Q·4m² = Σ_c (4·m·e_c − d_c²) (e_c intra-community
    * edges, d_c community degree sum) — multiplied out so the whole
    * score is BIGINT arithmetic both engines replay exactly (no
    * fractions; the caller divides by 4m² off-line if a ratio is
    * wanted). Evaluated for TWO partitions of the same star+chain
    * graph `dd_cc_components` uses: the REAL connectedComponents
    * labels (every edge intra — the upper bound) and a deliberately
    * bad id-mod-7 partition (ZERO intra edges on this construction —
    * hubs are ≡0 (mod 7), spokes aren't, and 13 ∤ 7k), so the gate
    * pins the metric discriminating good from bad, not just emitting
    * numbers. */
  val gModularity: Q = Q.sql(
    "g_modularity",
    s"""WITH RECURSIVE nodes AS (
      |  SELECT doc_id FROM documents
      |), ${Q.docGraphCtes}, sym AS (
      |  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
      |), r(a, b) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
      |), lab AS (
      |  SELECT a AS id, MIN(b) AS c FROM r GROUP BY a
      |), deg AS (
      |  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM sym GROUP BY 1
      |), parts AS (
      |  SELECT 'cc' AS p, id, c FROM lab
      |  UNION ALL
      |  SELECT 'mod7', doc_id, doc_id % 7 FROM nodes
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM edges
      |), ec AS (
      |  SELECT pa.p, pa.c, CAST(COUNT(*) AS BIGINT) AS e_c
      |  FROM edges e
      |  JOIN parts pa ON pa.id = e.src
      |  JOIN parts pb ON pb.id = e.dst AND pb.p = pa.p
      |  WHERE pa.c = pb.c
      |  GROUP BY 1, 2
      |), dc AS (
      |  SELECT pa.p, pa.c, CAST(SUM(deg.d) AS BIGINT) AS d_c
      |  FROM parts pa JOIN deg ON deg.id = pa.id
      |  GROUP BY 1, 2
      |), percomm AS (
      |  SELECT dc.p, dc.c, COALESCE(ec.e_c, 0) AS e_c, dc.d_c
      |  FROM dc LEFT JOIN ec ON ec.p = dc.p AND ec.c = dc.c
      |), ncomm AS (
      |  SELECT p, CAST(COUNT(DISTINCT c) AS BIGINT) AS n_communities
      |  FROM parts GROUP BY 1
      |)
      |SELECT pc.p AS partition_name, m.m_edges, nc.n_communities,
      |  CAST(SUM(pc.e_c) AS BIGINT) AS intra_edges,
      |  CAST(SUM(pc.d_c * pc.d_c) AS BIGINT) AS sum_d_sq,
      |  CAST(SUM(4 * m.m_edges * pc.e_c - pc.d_c * pc.d_c)
      |    AS BIGINT) AS q_num_4m2
      |FROM percomm pc CROSS JOIN m
      |JOIN ncomm nc ON nc.p = pc.p
      |GROUP BY 1, 2, 3
      |ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.llm.Dedup
    val g = Q.docGraph(Tables.documents(s, d))
    val (nodes, edges) = (g.nodes, g.edges)
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("long").as("d"))
    val ccParts = Dedup.connectedComponents(nodes, edges)
      .select(lit("cc").as("p"), col("id"), col("component").as("c"))
    val modParts = nodes.select(lit("mod7").as("p"), col("id"),
      (col("id") % 7).as("c"))
    val parts = ccParts.unionByName(modParts)
    val mEdges = edges.agg(count(lit(1)).cast("long").as("m_edges"))
    val ec = edges
      .join(parts.select(col("p"), col("id").as("src"),
        col("c").as("ca")), Seq("src"))
      .join(parts.select(col("p"), col("id").as("dst"),
        col("c").as("cb")), Seq("p", "dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("p"), col("ca").as("c"))
      .agg(count(lit(1)).cast("long").as("e_c"))
    val dc = parts.join(deg, Seq("id"))
      .groupBy("p", "c").agg(sum(col("d")).cast("long").as("d_c"))
    val perComm = dc.join(ec, Seq("p", "c"), "left")
      .select(col("p"), col("c"),
        coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
    val nComm = parts.groupBy("p")
      .agg(count_distinct(col("c")).cast("long").as("n_communities"))
    perComm.crossJoin(broadcast(mEdges))
      .join(nComm, Seq("p"))
      .groupBy(col("p").as("partition_name"), col("m_edges"),
        col("n_communities"))
      .agg(sum(col("e_c")).cast("long").as("intra_edges"),
        sum(col("d_c") * col("d_c")).cast("long").as("sum_d_sq"),
        sum(lit(4L) * col("m_edges") * col("e_c") -
          col("d_c") * col("d_c")).cast("long").as("q_num_4m2"))
      .orderBy("partition_name")
  }

  /** Synchronous label propagation ([[GraphOps.labelPropagation]], 3
    * deterministic rounds, min-label ties) over the star+chain
    * community graph `g_modularity` uses — per-node label plus the
    * label's community size, both exactly replayed by the oracle's
    * round-by-round CTE chain. The graph has real community structure
    * (7-member stars bridged by sparse 13-chains), so 3 rounds already
    * pull star satellites onto hub labels — the gate pins the exact
    * label assignment, not just convergence. */
  val gLabelProp: Q = Q.sql(
    "g_label_prop",
    s"""WITH ${Q.docGraphCtes}, dirs AS (
      |  SELECT src AS u, dst AS v FROM edges
      |  UNION ALL SELECT dst, src FROM edges
      |)${GraphOps.labelPropagationOracleCtes(3)}
      |SELECT node, label,
      |  COUNT(*) OVER (PARTITION BY label) AS community_size
      |FROM lp3
      |ORDER BY node""".stripMargin) { (s, d) =>
    GraphOps.labelPropagation(Q.docGraph(Tables.documents(s, d)).edges,
        iters = 3)
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy("node")
  }

  /** INCREMENTAL label propagation
    * ([[GraphOps.incrementalLabelPropagation]]): day 1 commits the
    * per-round LPA state for the star subgraph over the 90% old docs;
    * day 2 delivers the remaining docs' star edges plus ALL chain edges
    * (which bridge star communities). The Spark side folds the batch in
    * by recomputing only the radius-t balls around the new edges'
    * endpoints against the committed per-round labels; the twin runs
    * the SEMANTIC CONTRACT — full 3-round synchronous LPA over the
    * union graph. Hash equality proves incremental == full recompute
    * bit-for-bit (the k-hop influence-radius argument in the operator's
    * scaladoc), including label changes that chain through bridged
    * communities. Companion of `dd_cc_incremental` for the community
    * operator. */
  val gLabelPropIncremental: Q = Q.sql(
    "g_label_prop_incremental",
    s"""WITH ${Q.docGraphCtes}, dirs AS (
      |  SELECT src AS u, dst AS v FROM edges
      |  UNION ALL SELECT dst, src FROM edges
      |)${GraphOps.labelPropagationOracleCtes(3)}
      |SELECT node, label, (node % 10 = 9) AS is_new_node
      |FROM lp3
      |ORDER BY node""".stripMargin) { (s, d) =>
    val g = Q.docGraph(Tables.documents(s, d))
    val committed = GraphOps.labelPropagationRounds(g.oldStar, iters = 3)
    GraphOps.incrementalLabelPropagation(committed, g.oldStar, g.newEdges)
      .select(col("node"), col("label"),
        (col("node") % 10 === 9).as("is_new_node"))
      .orderBy("node")
  }

  val all: Seq[Q] = Seq(stFunnel, gTriangles, stCohort, gPageRank, gBfsHops,
    stTopPaths, aAttrMultiTouch, gModularity, gLabelProp,
    gLabelPropIncremental)
}
