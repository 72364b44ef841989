package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Tables
import graft.functions.Det._
import graft.functions.Fns

/** Union/projection operators (SURVEY §2.2, §2.6) and the scalar function
  * surface (§2.7/§2.8), exercised on the testdata tables.
  */
object UnionScalarQueries {

  /** P1/U1 — source-union + column alignment: two differently-shaped
    * projections unioned by name with NULL pads and a source tag
    * (base_quickbooks__order_items.sql:1-173). High/low-priority orders
    * play the invoice/sales-receipt roles; each side has a column the
    * other lacks. */
  val p1UnionAlign: Q = Q.sql(
    "p1_union_align",
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice, 'urgent' AS source_type,
      |         o_orderpriority AS priority_detail,
      |         CAST(NULL AS VARCHAR) AS status_detail
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice, 'standard' AS source_type,
      |         CAST(NULL AS VARCHAR) AS priority_detail,
      |         o_orderstatus AS status_detail
      |  FROM orders WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |) ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val urgent = o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit("urgent").as("source_type"),
        col("o_orderpriority").as("priority_detail"))
    val standard = o.filter(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit("standard").as("source_type"),
        col("o_orderstatus").as("status_detail"))
    urgent.unionByName(standard, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  /** P2+P3 — derived tri-state flag + SELECT * EXCEPT re-projection
    * (stg_quickbooks__order_items_tax_status.sql). */
  val p2p3FlagExcept: Q = Q.sql(
    "p2_flag_and_star_except",
    """SELECT p_partkey, p_name, p_brand, p_size,
      |  CASE WHEN LOWER(p_type) LIKE '%anodized%' THEN TRUE
      |       WHEN LOWER(p_type) LIKE '%polished%' THEN FALSE
      |       ELSE NULL END AS is_anodized
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val p = Tables.part(s, d)
    val flagged = p.withColumn("is_anodized",
      when(lower(col("p_type")).contains("anodized"), lit(true))
        .when(lower(col("p_type")).contains("polished"), lit(false))
        .otherwise(lit(null).cast("boolean")))
    Fns.starExcept(flagged, Seq("p_type", "p_retailprice"))
      .orderBy("p_partkey")
  }

  /** A15/U1 — multi-level summary UNION ALL with analysis_level tag and
    * NULL-padded columns (dim_accounts_receivable_aging.sql:52-150). */
  val a15MultiLevel: Q = Q.sql(
    "a15_multilevel_union",
    """SELECT * FROM (
      |  SELECT 'order' AS analysis_level, o_orderkey AS entity_key,
      |         o_custkey,
      |         CAST(o_totalprice AS DOUBLE) AS amount,
      |         CAST(NULL AS BIGINT) AS order_count
      |  FROM orders
      |  UNION ALL
      |  SELECT 'customer' AS analysis_level, o_custkey AS entity_key,
      |         CAST(NULL AS BIGINT) AS o_custkey,
      |         CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS amount,
      |         COUNT(*) AS order_count
      |  FROM orders GROUP BY o_custkey
      |  UNION ALL
      |  SELECT 'total' AS analysis_level, CAST(0 AS BIGINT) AS entity_key,
      |         CAST(NULL AS BIGINT) AS o_custkey,
      |         CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS amount,
      |         COUNT(*) AS order_count
      |  FROM orders
      |) ORDER BY analysis_level, entity_key""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val detail = o.select(
      lit("order").as("analysis_level"),
      col("o_orderkey").as("entity_key"),
      col("o_custkey"),
      col("o_totalprice").cast(DoubleType).as("amount"))
    val byCust = o.groupBy(col("o_custkey").as("entity_key"))
      .agg(dsum(col("o_totalprice")).as("amount"),
        count(lit(1)).as("order_count"))
      .withColumn("analysis_level", lit("customer"))
    val total = o.agg(dsum(col("o_totalprice")).as("amount"),
      count(lit(1)).as("order_count"))
      .select(lit("total").as("analysis_level"),
        lit(0L).as("entity_key"), col("amount"), col("order_count"))
    detail
      .unionByName(byCust, allowMissingColumns = true)
      .unionByName(total, allowMissingColumns = true)
      .orderBy("analysis_level", "entity_key")
  }

  /** U2 — UNION DISTINCT of two extracts (domain_consolidation.py:317). */
  val u2UnionDistinct: Q = Q.sql(
    "u2_union_distinct",
    """SELECT nk FROM (
      |  SELECT c_nationkey AS nk FROM customer
      |  UNION
      |  SELECT s_nationkey AS nk FROM supplier
      |) ORDER BY nk""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("nk"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
      .distinct()
      .orderBy("nk")
  }

  /** GDPR pseudonymization through the REAL `Fns.pseudonymizeEmail` /
    * `pseudonymizeName` — identifiers replaced by deterministic salted
    * tokens (same input → same token, so keyed joins/dedup survive the
    * redaction); emails synthesized from customer names in BOTH
    * engines. The broadcast 1-row distinct counts ride along so the
    * gate also proves the tokenization is collision-free at this
    * cardinality (n_distinct_tokens = n_distinct_emails). */
  val fPseudonymize: Q = Q.sql(
    "f_pseudonymize",
    """WITH c AS (
      |  SELECT c_custkey, c_name,
      |    lower(replace(c_name, ' ', '.')) || '@example.com' AS email
      |  FROM customer
      |), t AS (
      |  SELECT c_custkey, email,
      |    'user_' || substr(md5('ps1|' || lower(trim(email))), 1, 8)
      |      || '@redacted.invalid' AS email_token,
      |    'person_' || substr(md5('ps1|' || lower(trim(c_name))), 1, 8)
      |      AS name_token
      |  FROM c
      |), agg AS (
      |  SELECT CAST(COUNT(DISTINCT email) AS BIGINT) AS n_distinct_emails,
      |    CAST(COUNT(DISTINCT email_token) AS BIGINT) AS n_distinct_tokens
      |  FROM t
      |)
      |SELECT c_custkey, email, email_token, name_token,
      |  n_distinct_emails, n_distinct_tokens
      |FROM t, agg ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
      concat(lower(regexp_replace(col("c_name"), " ", ".")),
        lit("@example.com")).as("email"))
    val t = c.select(col("c_custkey"), col("email"),
      Fns.pseudonymizeEmail(col("email"), "ps1").as("email_token"),
      Fns.pseudonymizeName(col("c_name"), "ps1").as("name_token"))
    val agg = t.agg(
      count_distinct(col("email")).cast("long").as("n_distinct_emails"),
      count_distinct(col("email_token")).cast("long")
        .as("n_distinct_tokens"))
    t.crossJoin(broadcast(agg))
      .select("c_custkey", "email", "email_token", "name_token",
        "n_distinct_emails", "n_distinct_tokens")
      .orderBy("c_custkey")
  }

  /** §2.7 string functions — SPLIT_PART (PG ''-on-missing semantics),
    * INITCAP, LEFT/substring, LENGTH, CONCAT_WS, NULLIF(TRIM()), REPLACE,
    * regexp_extract on part names/brands. */
  val fString: Q = Q.sql(
    "f_string_functions",
    """SELECT p_partkey,
      |  COALESCE(SPLIT_PART(p_name, ' ', 1), '') AS first_word,
      |  COALESCE(SPLIT_PART(p_name, ' ', 9), '') AS ninth_word_empty,
      |  UPPER(p_brand) AS brand_upper,
      |  LEFT(p_name, 10) AS name_left10,
      |  LENGTH(p_name) AS name_len,
      |  CONCAT_WS('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
      |  REPLACE(p_brand, '#', '_') AS brand_clean,
      |  REGEXP_EXTRACT(p_type, '(\w+)$', 1) AS last_type_word,
      |  NULLIF(TRIM(p_name), '') AS name_nullif
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      Fns.splitPart(col("p_name"), " ", 1).as("first_word"),
      Fns.splitPart(col("p_name"), " ", 9).as("ninth_word_empty"),
      upper(col("p_brand")).as("brand_upper"),
      substring(col("p_name"), 1, 10).as("name_left10"),
      length(col("p_name")).as("name_len"),
      concat_ws("-", col("p_brand"), col("p_size").cast("string"))
        .as("brand_size"),
      regexp_replace(col("p_brand"), "#", "_").as("brand_clean"),
      regexp_extract(col("p_type"), "(\\w+)$", 1).as("last_type_word"),
      Fns.nullifBlank(col("p_name")).as("name_nullif"))
      .orderBy("p_partkey")
  }

  /** §2.7 hash/key functions — MD5 and the dbt surrogate-key recipe,
    * byte-identical across engines. */
  val fHash: Q = Q.sql(
    "f_surrogate_key",
    """SELECT c_custkey,
      |  MD5(CONCAT_WS('|', c_name, c_mktsegment)) AS plain_md5,
      |  MD5(CONCAT_WS('-',
      |    COALESCE(CAST(c_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
      |    COALESCE(CAST(c_mktsegment AS VARCHAR), '_dbt_utils_surrogate_key_null_')))
      |    AS surrogate_key,
      |  CONCAT('gen_', LEFT(MD5(LOWER(CONCAT_WS('|', c_name, c_mktsegment))), 16))
      |    AS generated_id
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select(
      col("c_custkey"),
      md5(concat_ws("|", col("c_name"), col("c_mktsegment"))).as("plain_md5"),
      Fns.surrogateKey(col("c_custkey"), col("c_mktsegment"))
        .as("surrogate_key"),
      Fns.generatedLeadId(col("c_name"), col("c_mktsegment"))
        .as("generated_id"))
      .orderBy("c_custkey")
  }

  /** §2.7 date functions — datediff, date_add, date_trunc, extract,
    * add_months, greatest/least (SURVEY date/time list). As-of date
    * injected for determinism (§7.4 #5). */
  val fDate: Q = Q.sql(
    "f_date_functions",
    """SELECT o_orderkey,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
      |  DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-08-11') AS days_outstanding,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS due_date,
      |  CAST(CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS VARCHAR) AS order_month,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
      |  CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS order_quarter,
      |  CAST(GREATEST(CAST(o_orderdate AS DATE), DATE '1997-01-01') AS VARCHAR) AS clamped_date,
      |  CAST(CAST(o_orderdate AS DATE) >= DATE '1998-08-11' - INTERVAL 365 DAYS AS BOOLEAN) AS in_last_year
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val od = col("o_orderdate").cast("date")
    val asOf = to_date(lit("1998-08-11"))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      od.cast("string").as("order_date"),
      datediff(asOf, od).as("days_outstanding"),
      date_add(od, 30).cast("string").as("due_date"),
      date_trunc("month", col("o_orderdate")).cast("date").cast("string")
        .as("order_month"),
      year(col("o_orderdate")).cast("long").as("order_year"),
      quarter(col("o_orderdate")).cast("long").as("order_quarter"),
      greatest(od, to_date(lit("1997-01-01"))).cast("string")
        .as("clamped_date"),
      (od >= date_sub(asOf, 365)).as("in_last_year"))
      .orderBy("o_orderkey")
  }

  /** §2.8 — safe numeric parsing of dirty strings ('$1,234.50', '12%'),
    * built from existing columns so the oracle sees identical inputs
    * (pipelines/shared/utils.py:105-137). */
  val fSafeNumeric: Q = Q.sql(
    "f_safe_numeric",
    """WITH dirty AS (
      |  SELECT o_orderkey,
      |    CONCAT('$', CAST(o_totalprice AS VARCHAR)) AS dollar_str,
      |    CONCAT(CAST(o_orderkey % 100 AS VARCHAR), '%') AS pct_str,
      |    o_orderstatus AS not_a_number
      |  FROM orders
      |)
      |SELECT o_orderkey,
      |  COALESCE(TRY_CAST(REGEXP_REPLACE(dollar_str, '[,$%\s]', '', 'g') AS DOUBLE), 0.0) AS parsed_dollars,
      |  COALESCE(TRY_CAST(REGEXP_REPLACE(pct_str, '[,$%\s]', '', 'g') AS DOUBLE), 0.0) AS parsed_pct,
      |  COALESCE(TRY_CAST(REGEXP_REPLACE(not_a_number, '[,$%\s]', '', 'g') AS DOUBLE), 0.0) AS parsed_default
      |FROM dirty
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val dirty = Tables.orders(s, d).select(
      col("o_orderkey"),
      concat(lit("$"), col("o_totalprice").cast("string")).as("dollar_str"),
      concat((col("o_orderkey") % 100).cast("string"), lit("%")).as("pct_str"),
      col("o_orderstatus").as("not_a_number"))
    dirty.select(
      col("o_orderkey"),
      Fns.safeNumeric(col("dollar_str")).as("parsed_dollars"),
      Fns.safeNumeric(col("pct_str")).as("parsed_pct"),
      Fns.safeNumeric(col("not_a_number")).as("parsed_default"))
      .orderBy("o_orderkey")
  }

  /** S5 — merge/upsert semantics: new snapshot overrides old by PK, old
    * non-colliding rows survive (DLT write_disposition="merge",
    * pipelines/quickbooks/pipeline.py:301-306). "Old" = orders before
    * 1998-01-01, "new" = orders from 1997-07-01; overlap keys take the
    * new side. Expressed via the same row_number-keep-latest the
    * MergeWriter uses. */
  val s5MergeUpsert: Q = Q.sql(
    "s5_merge_upsert",
    """WITH old AS (
      |  SELECT o_orderkey, o_totalprice, 'old' AS batch FROM orders
      |  WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |), new AS (
      |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 'new' AS batch
      |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-07-01'
      |), unioned AS (
      |  SELECT *, 1 AS pri FROM new
      |  UNION ALL
      |  SELECT *, 2 AS pri FROM old
      |)
      |SELECT o_orderkey, o_totalprice, batch FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri) AS rn
      |  FROM unioned
      |) WHERE rn = 1
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val od = col("o_orderdate").cast("date")
    val oldB = o.filter(od < to_date(lit("1998-01-01")))
      .select(col("o_orderkey"), col("o_totalprice"), lit("old").as("batch"))
    val newB = o.filter(od >= to_date(lit("1997-07-01")))
      .select(col("o_orderkey"),
        (col("o_totalprice") * 2).as("o_totalprice"), lit("new").as("batch"))
    graft.operators.MergeUpsert.upsert(oldB, newB, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** S13 — SCD TYPE-2 SNAPSHOT (the dbt `snapshot` check strategy)
    * through the REAL [[graft.operators.Scd2]]: a current snapshot
    * (one open row per customer + synthetic closed history for every
    * 7th key) receives a batch where every 3rd key CHANGED segment,
    * every 5th (and not 3rd) key arrived UNCHANGED, and 50 brand-new
    * keys appear — exercising close-and-reopen, untouched-open,
    * absent-key retention, history pass-through, and first-open in one
    * hash-gated result. All validity bounds come from literal dates in
    * the data (never wall clock), so both engines replay the identical
    * transition. */
  val s13Scd2: Q = Q.sql(
    "s13_scd2_snapshot",
    """WITH cur_open AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |    '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      |  FROM customer
      |), cur_closed AS (
      |  SELECT c_custkey, 'old-' || c_mktsegment AS segment,
      |    '2023-01-01' AS valid_from, '2024-01-01' AS valid_to
      |  FROM customer WHERE c_custkey % 7 = 0
      |), batch AS (
      |  SELECT c_custkey, c_mktsegment || '-new' AS segment
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment FROM customer
      |  WHERE c_custkey % 5 = 1 AND c_custkey % 3 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 100000, 'NEWSEG' FROM customer
      |  WHERE c_custkey < 50
      |), to_close AS (
      |  SELECT o.c_custkey, o.segment, o.valid_from,
      |    '2024-06-01' AS valid_to
      |  FROM cur_open o JOIN batch b ON b.c_custkey = o.c_custkey
      |  WHERE b.segment IS DISTINCT FROM o.segment
      |), still_open AS (
      |  SELECT o.c_custkey, o.segment, o.valid_from, o.valid_to
      |  FROM cur_open o LEFT JOIN batch b ON b.c_custkey = o.c_custkey
      |  WHERE b.c_custkey IS NULL
      |     OR b.segment IS NOT DISTINCT FROM o.segment
      |), new_open AS (
      |  SELECT b.c_custkey, b.segment, '2024-06-01' AS valid_from,
      |    CAST(NULL AS VARCHAR) AS valid_to
      |  FROM batch b LEFT JOIN cur_open o ON o.c_custkey = b.c_custkey
      |  WHERE o.c_custkey IS NULL
      |     OR b.segment IS DISTINCT FROM o.segment
      |)
      |SELECT c_custkey, segment, valid_from, valid_to FROM (
      |  SELECT * FROM cur_closed
      |  UNION ALL SELECT * FROM to_close
      |  UNION ALL SELECT * FROM still_open
      |  UNION ALL SELECT * FROM new_open
      |)
      |ORDER BY c_custkey, valid_from, COALESCE(valid_to, '9999')""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val curOpen = c.select(col("c_custkey"),
      col("c_mktsegment").as("segment"),
      lit("2024-01-01").as("valid_from"),
      lit(null).cast("string").as("valid_to"))
    val curClosed = c.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        concat(lit("old-"), col("c_mktsegment")).as("segment"),
        lit("2023-01-01").as("valid_from"),
        lit("2024-01-01").as("valid_to"))
    val batch = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        concat(col("c_mktsegment"), lit("-new")).as("segment"))
      .unionByName(c.filter(col("c_custkey") % 5 === 1 &&
          col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")))
      .unionByName(c.filter(col("c_custkey") < 50)
        .select((col("c_custkey") + 100000).as("c_custkey"),
          lit("NEWSEG").as("segment")))
    graft.operators.Scd2.apply(curOpen.unionByName(curClosed), batch,
      keys = Seq("c_custkey"), payload = Seq("segment"),
      effectiveDate = "2024-06-01")
      .orderBy(col("c_custkey"), col("valid_from"),
        coalesce(col("valid_to"), lit("9999")))
  }

  /** J17 — POINT-IN-TIME (PIT) JOIN against a type-2 history: each
    * order joins the dim version whose validity range contains the
    * order date — the consumption half of [[s13Scd2]]'s snapshot
    * discipline, and the join that prevents the classic star-schema
    * bug of reporting yesterday's facts under today's dimension
    * attributes. The half-open [from, to) range with a NULL-open tail
    * guarantees exactly ONE version matches per order, so the join
    * never duplicates facts (the rollup row-count equals the order
    * count — checked by the gate). Range predicate rides on the
    * custkey equi-join: Spark plans the equi-key hash join with the
    * range as a post-join filter — at 100 TB the dim history is
    * broadcast-size (versions ≪ facts). */
  val j17PitJoin: Q = Q.sql(
    "j17_pit_join",
    """WITH hist AS (
      |  SELECT c_custkey, c_mktsegment || '/v1' AS segment,
      |    DATE '1992-01-01' AS valid_from, DATE '1995-07-01' AS valid_to
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment || '/v2' AS segment,
      |    DATE '1995-07-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      |  FROM customer
      |)
      |SELECT h.segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST((o.o_totalprice) AS DECIMAL(38,6))) AS DOUBLE)
      |    AS total_price
      |FROM orders o JOIN hist h
      |  ON h.c_custkey = o.o_custkey
      | AND CAST(o.o_orderdate AS DATE) >= h.valid_from
      | AND (h.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < h.valid_to)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val hist = c.select(col("c_custkey"),
        concat(col("c_mktsegment"), lit("/v1")).as("segment"),
        to_date(lit("1992-01-01")).as("valid_from"),
        to_date(lit("1995-07-01")).as("valid_to"))
      .unionByName(c.select(col("c_custkey"),
        concat(col("c_mktsegment"), lit("/v2")).as("segment"),
        to_date(lit("1995-07-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to")))
    val o = Tables.orders(s, d)
    val od = col("o_orderdate").cast("date")
    o.join(broadcast(hist),
        col("c_custkey") === col("o_custkey") &&
          od >= col("valid_from") &&
          (col("valid_to").isNull || od < col("valid_to")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        graft.functions.Det.dsum(col("o_totalprice")).as("total_price"))
      .orderBy("segment")
  }

  /** TIME SERIES — date-spine gap fill + forward fill (dbt-utils
    * `date_spine` + LOCF) through `operators.DateSpine`: the 5 most
    * active parts of a 2-month window densified to one row per day,
    * quantity zero-filled, the day's min price carried forward, and a
    * days-since-last-sale counter. Leading days before a part's first
    * sale keep NULL price/counter — the gate pins that edge too. */
  val tsSpineFill: Q = Q.sql(
    "ts_spine_fill",
    """WITH li AS (
      |  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
      |    l_quantity, l_extendedprice
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE)
      |    BETWEEN DATE '1995-02-01' AND DATE '1995-03-31'
      |), totals AS (
      |  SELECT part, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS tq
      |  FROM li GROUP BY 1
      |), keys AS (
      |  SELECT part FROM totals ORDER BY tq DESC, part LIMIT 5
      |), daily AS (
      |  SELECT part, day,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty,
      |    MIN(l_extendedprice) AS day_min_price
      |  FROM li JOIN keys USING (part)
      |  GROUP BY 1, 2
      |), spine AS (
      |  SELECT k.part,
      |    CAST(unnest(generate_series(DATE '1995-02-01', DATE '1995-03-31',
      |      INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM keys k
      |), joined AS (
      |  SELECT s.part, s.day, d.qty, d.day_min_price,
      |    d.day IS NOT NULL AS has_sale
      |  FROM spine s LEFT JOIN daily d ON d.part = s.part AND d.day = s.day
      |)
      |SELECT part, STRFTIME(day, '%Y-%m-%d') AS day, has_sale,
      |  COALESCE(qty, 0.0) AS qty,
      |  LAST_VALUE(day_min_price IGNORE NULLS) OVER w AS price_filled,
      |  CAST(day - LAST_VALUE(CASE WHEN has_sale THEN day END IGNORE NULLS)
      |    OVER w AS BIGINT) AS days_since_sale
      |FROM joined
      |WINDOW w AS (PARTITION BY part ORDER BY day
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY part, day""".stripMargin) { (s, d) =>
    import graft.operators.DateSpine
    val li = Tables.lineitem(s, d).select(
        col("l_partkey").as("part"),
        col("l_shipdate").cast("date").as("day"),
        col("l_quantity"), col("l_extendedprice"))
      .filter(col("day").between(to_date(lit("1995-02-01")),
        to_date(lit("1995-03-31"))))
    val totals = li.groupBy("part")
      .agg(sum(col("l_quantity")
        .cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("tq"))
    val keys = totals.orderBy(col("tq").desc, col("part")).limit(5)
      .select("part")
    val daily = li.join(broadcast(keys), Seq("part"))
      .groupBy("part", "day")
      .agg(dsum(col("l_quantity")).as("qty"),
        min(col("l_extendedprice")).as("day_min_price"))
    DateSpine.spineFill(keys, daily, "part", "day",
        "1995-02-01", "1995-03-31",
        flowCols = Seq("qty"), stockCols = Seq("day_min_price"))
      .select(col("part"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("has_obs").as("has_sale"), col("qty"),
        col("day_min_price").as("price_filled"),
        col("days_since_obs").as("days_since_sale"))
      .orderBy("part", "day")
  }

  /** S6 — CDC version diff through the REAL `AtomicTable`: commit v-old
    * (80% of documents) and v-new (deletes every 7th key, inserts fresh
    * +400000 keys, rewrites text on every 11th) as two versions of one
    * atomic table, then `AtomicTable.diff` tags
    * insert/delete/update keys — the audit primitive of the versioned
    * replace sink. DuckDB twin replays the two synthesized snapshots
    * with a FULL OUTER JOIN and IS DISTINCT FROM. */
  val s6VersionDiff: Q = Q.sql(
    "s6_version_diff",
    """WITH v1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 < 4
      |), v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN text || ' upd' ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 < 4 AND doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 400000, text FROM documents WHERE doc_id % 5 = 4
      |), j AS (
      |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN a.doc_id IS NULL THEN 'insert'
      |         WHEN b.doc_id IS NULL THEN 'delete'
      |         WHEN a.text IS DISTINCT FROM b.text THEN 'update' END
      |      AS change_type
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
      |)
      |SELECT doc_id, change_type FROM j WHERE change_type IS NOT NULL
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.operators.AtomicTable
    val docs = Tables.documents(s, d)
    val id = col("doc_id")
    val v1 = docs.filter(id % 5 < 4).select(id, col("text"))
    val v2 = docs.filter(id % 5 < 4 && id % 7 =!= 0)
      .select(id, when(id % 11 === 0, concat(col("text"), lit(" upd")))
        .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(id % 5 === 4)
        .select((id + 400000L).as("doc_id"), col("text")))
    val dir = Q.tempDir("graft_vdiff").toString
    val va = AtomicTable.nextVersion(s, dir)
    AtomicTable.commit(v1, dir, va)
    val vb = AtomicTable.nextVersion(s, dir)
    AtomicTable.commit(v2, dir, vb)
    AtomicTable.diff(s, dir, va, vb, Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** S14 — FILE-SKIPPING READ INVARIANCE through the REAL
    * `ZOrder.clusterBy` → `AtomicTable.commit` →
    * `DataSkipping.writeManifest` → `DataSkipping.readSkipping` chain:
    * orders are committed z-ordered on (custkey-bucket, order-month), a
    * 2-D probe reads ONLY the files whose manifest tile overlaps the
    * probe ranges, and the SAME filtered aggregate is computed over the
    * skipping read and the full snapshot. The oracle computes that
    * aggregate twice from the raw table — so the gate proves the
    * manifest-pruned read is output-invariant (skipping on == off),
    * the same discipline `dd_incremental_bloom` applies to the Bloom
    * probe. File-count reduction itself is layout-dependent (spec-
    * proven in OperatorsSpec + visible in PlanAudit's scan), never
    * hash-gated. */
  val s14SkippingRead: Q = Q.sql(
    "s14_skipping_read",
    """WITH probe AS (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey BETWEEN 100 AND 499
      |    AND CAST(o_orderdate AS DATE)
      |        BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
      |)
      |SELECT 'full' AS src, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE)
      |    AS total_price
      |FROM probe
      |UNION ALL
      |SELECT 'skipping' AS src, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE)
      |    AS total_price
      |FROM probe
      |ORDER BY src""".stripMargin) { (s, d) =>
    import graft.operators.{AtomicTable, DataSkipping, ZOrder}
    val orders = Tables.orders(s, d)
    // quantized LONG dims — the SAME exprs feed the Morton key, the
    // manifest, and (by construction) the probe ranges below
    val dims = Seq(
      "cust_b" -> expr("o_custkey div 100"),
      "month_b" -> expr("year(o_orderdate) * 12 + month(o_orderdate)"))
    val dir = Q.tempDir("graft_s14").resolve("t").toString
    val clustered = ZOrder.clusterBy(orders, dims(0)._2, dims(1)._2, 16)
    AtomicTable.commit(clustered, dir, 0L)
    DataSkipping.writeManifest(s,
      AtomicTable.latestDataPath(s, dir).get, dims)
    // probe: custkey ∈ [100, 499] ⇒ cust_b ∈ [1, 4];
    // 1997 ⇒ month_b ∈ [1997·12+1, 1997·12+12]
    val ranges = Map("cust_b" -> (1L, 4L), "month_b" -> (23965L, 23976L))
    val pred = col("o_custkey").between(100, 499) &&
      col("o_orderdate").cast("date").between(
        to_date(lit("1997-01-01")), to_date(lit("1997-12-31")))
    def aggOf(src: String, df: org.apache.spark.sql.DataFrame) =
      df.filter(pred)
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(src).as("src"), col("n_orders"), col("total_price"))
    aggOf("full", AtomicTable.read(s, dir).get)
      .unionAll(aggOf("skipping", DataSkipping.readSkipping(s, dir, ranges)))
      .orderBy("src")
  }

  /** S15 — DYNAMIC PARTITION PRUNING through the REAL hive-partitioned
    * `AtomicTable` commit: orders land partitioned by order month
    * (~80 directories), then join a broadcast month dim FILTERED to one
    * year — the filter lives on the DIM side, so only Spark's DPP (a
    * dynamicpruning subquery reusing the broadcast) can skip the other
    * ~68 partition directories at the fact scan; a static predicate
    * can't express it. This is THE join optimization for date-
    * partitioned facts at 100 TB: without DPP the join scans the whole
    * mart. The gate proves output correctness (rollup == oracle's
    * direct year filter); the executed plan shows
    * `dynamicpruningexpression` in the scan's PartitionFilters. */
  val s15DppPrune: Q = Q.sql(
    "s15_dpp_prune",
    """WITH f AS (
      |  SELECT o_orderkey, o_totalprice,
      |    strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS o_month,
      |    year(o_orderdate) AS y
      |  FROM orders
      |)
      |SELECT o_month, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE)
      |    AS total_price
      |FROM f WHERE y = 1997
      |GROUP BY o_month
      |ORDER BY o_month""".stripMargin) { (s, d) =>
    import graft.operators.AtomicTable
    val orders = Tables.orders(s, d)
    val dir = Q.tempDir("graft_s15").resolve("t").toString
    val fact = orders.select(col("o_orderkey"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
    AtomicTable.commit(fact, dir, 0L, partitionCols = Seq("o_month"))
    val committed = AtomicTable.read(s, dir).get
    // month dim with its year attribute — each month belongs to exactly
    // one year, so the dim-side filter selects 12 of ~80 partitions
    val dim = orders.select(
        date_format(col("o_orderdate"), "yyyy-MM").as("o_month"),
        year(col("o_orderdate")).as("o_year"))
      .distinct()
    committed
      .join(broadcast(dim.filter(col("o_year") === 1997)), Seq("o_month"))
      .groupBy("o_month")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_month")
  }

  /** I5 — LOOKBACK incremental merge (late-arriving data): the dbt
    * incremental pattern that reprocesses a trailing window instead of
    * the full history. The seed build is missing every o_orderkey%10=3
    * order ("arrived late"); the incremental pass recomputes ONLY days
    * inside the lookback window from complete data and upserts them by
    * day key (`MergeUpsert`). The gate pins BOTH halves of the
    * trade-off: in-window days are corrected (src='incr', late rows
    * present), out-of-window days keep the stale seed aggregates — late
    * data beyond the horizon is lost by design, and that loss is part
    * of the oracle-checked contract. Work ∝ window, not history. */
  val i5LookbackMerge: Q = Q.sql(
    "i5_lookback_merge",
    """WITH base AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderkey, o_totalprice
      |  FROM orders
      |), seed AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |    'seed' AS src
      |  FROM base WHERE o_orderkey % 10 <> 3 GROUP BY 1
      |), incr AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |    'incr' AS src
      |  FROM base WHERE day > DATE '2001-05-31' GROUP BY 1
      |)
      |SELECT STRFTIME(day, '%Y-%m-%d') AS day, n_orders, revenue, src FROM (
      |  SELECT * FROM incr
      |  UNION ALL
      |  SELECT * FROM seed WHERE day NOT IN (SELECT day FROM incr)
      |) ORDER BY day""".stripMargin) { (s, d) =>
    import graft.operators.MergeUpsert
    val base = Tables.orders(s, d).select(
      col("o_orderdate").cast("date").as("day"),
      col("o_orderkey"), col("o_totalprice"))
    def rollup(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.groupBy("day")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
        .withColumn("src", lit(tag))
    val seed = rollup(base.filter(col("o_orderkey") % 10 =!= 3), "seed")
    val incr = rollup(
      base.filter(col("day") > to_date(lit("2001-05-31"))), "incr")
    MergeUpsert.upsert(seed, incr, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_orders"), col("revenue"), col("src"))
      .orderBy("day")
  }

  /** I1 — incremental append semantics: only rows newer than the target's
    * max snapshot key are appended
    * (int_quickbooks__inventory_history.sql:7-12,58-64). */
  val i1Incremental: Q = Q.sql(
    "i1_incremental_filter",
    """WITH target AS (
      |  SELECT * FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |), incoming AS (
      |  SELECT * FROM orders
      |)
      |SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date, o_totalprice
      |FROM incoming
      |WHERE CAST(o_orderdate AS DATE) > (SELECT MAX(CAST(o_orderdate AS DATE)) FROM target)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val od = col("o_orderdate").cast("date")
    val target = o.filter(od < to_date(lit("1998-01-01")))
      .select(od.as("order_date"))
    graft.operators.MergeUpsert
      .incrementalNewRows(target, "order_date",
        o.select(col("o_orderkey"), od.as("order_date"), col("o_totalprice")))
      .withColumn("order_date", col("order_date").cast("string"))
      .orderBy("o_orderkey")
  }

  /** A17-style — monthly channel rollup over the events stream table
    * (mart_marketing_performance.sql:13-36). */
  val a17EventRollup: Q = Q.sql(
    "a17_event_channel_rollup",
    """SELECT CAST(CAST(DATE_TRUNC('month', ts) AS DATE) AS VARCHAR) AS event_month, event_type,
      |  COUNT(DISTINCT user_id) AS unique_users,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST((value) AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
      |  CAST(SUM(CAST((value) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_month, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(
        date_trunc("month", col("ts")).cast("date").cast("string")
          .as("event_month"),
        col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("unique_users"),
        count(lit(1)).as("event_count"),
        dsum(col("value")).as("total_value"),
        davg(col("value")).as("avg_value"))
      .orderBy("event_month", "event_type")
  }

  /** Z-order layout key ([[graft.operators.ZOrder]]): 16-bit Morton
    * interleave of (p_size, p_partkey & 255) plus the 16-way tile id the
    * pruning demo buckets on. The DuckDB twin replays the identical
    * three-step magic-mask spread with plain `<<`/`&`/`|` integer
    * arithmetic — the whole point of keeping the key free of engine bit
    * intrinsics. */
  val fZOrderKey: Q = Q.sql(
    "f_zorder_key",
    """WITH q AS (
      |  SELECT p_partkey,
      |    CAST(p_size AS BIGINT) & 255 AS a,
      |    CAST(p_partkey AS BIGINT) & 255 AS b
      |  FROM part
      |), s1 AS (
      |  SELECT p_partkey, (a | (a << 4)) & 3855 AS a, (b | (b << 4)) & 3855 AS b FROM q
      |), s2 AS (
      |  SELECT p_partkey, (a | (a << 2)) & 13107 AS a, (b | (b << 2)) & 13107 AS b FROM s1
      |), s3 AS (
      |  SELECT p_partkey, (a | (a << 1)) & 21845 AS a, (b | (b << 1)) & 21845 AS b FROM s2
      |)
      |SELECT p_partkey,
      |  CAST(a | (b << 1) AS BIGINT) AS z_key,
      |  CAST((a | (b << 1)) >> 12 AS BIGINT) AS z_tile
      |FROM s3 ORDER BY p_partkey""".stripMargin) { (s, d) =>
    import graft.operators.ZOrder
    val z = ZOrder.zKey8(col("p_size").cast("long"),
      col("p_partkey").cast("long"))
    Tables.part(s, d).select(
      col("p_partkey"),
      z.as("z_key"),
      shiftright(z, 12).as("z_tile"))
      .orderBy("p_partkey")
  }

  /** S16 — CROSS-TABLE SNAPSHOT-READ INVARIANCE through the REAL
    * `SnapshotManifest.commitAll` → `SnapshotManifest.snapshot` →
    * `Snapshot.read` chain (the governance path `cli.Main` publishes
    * per run): epoch 1 commits two tables (a date-bounded orders subset
    * and a keyed customer subset) under one manifest; a reader pins
    * that snapshot; epoch 2 advances BOTH tables to their full-range
    * versions. The pinned reader's aggregates over both tables must
    * equal the EPOCH-1 definitions — the twin computes those from the
    * raw tables directly — so the gate proves version pinning holds
    * through a later publish on every table of the snapshot (a
    * latest-read would hash-mismatch with the epoch-2 counts). */
  val s16SnapshotRead: Q = Q.sql(
    "s16_snapshot_read",
    """SELECT 'customer' AS src, c_mktsegment AS k,
      |  COUNT(*) AS n
      |FROM customer WHERE c_custkey % 3 = 0
      |GROUP BY 2
      |UNION ALL
      |SELECT 'orders' AS src, o_orderpriority AS k, COUNT(*) AS n
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'
      |GROUP BY 2
      |ORDER BY src, k""".stripMargin) { (s, d) =>
    import graft.operators.SnapshotManifest
    val base = Q.tempDir("graft_snapread").toString
    val (ta, tb) = (s"$base/orders_sub", s"$base/customer_sub")
    val manifests = s"$base/_snapshots"
    val orders = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    SnapshotManifest.commitAll(s, manifests, Seq(
      ta -> orders.filter(col("o_orderdate").cast("date") <
          to_date(lit("1996-01-01")))
        .select("o_orderpriority"),
      tb -> cust.filter(col("c_custkey") % 3 === 0)
        .select("c_mktsegment")))
    val snap = SnapshotManifest.snapshot(s, manifests).get
    // epoch 2 advances latest on BOTH tables; the pinned reader must
    // not see it
    SnapshotManifest.commitAll(s, manifests, Seq(
      ta -> orders.select("o_orderpriority"),
      tb -> cust.select("c_mktsegment")))
    val c = snap.read(tb)
      .groupBy(col("c_mktsegment").as("k"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(lit("customer").as("src"), col("k"), col("n"))
    val o = snap.read(ta)
      .groupBy(col("o_orderpriority").as("k"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(lit("orders").as("src"), col("k"), col("n"))
    c.unionByName(o).orderBy("src", "k")
  }

  /** S17 — PLAN-DERIVED LINEAGE EDGES through the REAL
    * `Catalog.recordDeps` path (the edge source `tools/DagLint` lints):
    * a four-layer mini-DAG over the testdata tables — raw commits,
    * staging VIEWS, an intermediate join table, a mart rollup — and the
    * emitted (model, upstream) edge list is gated against the
    * hand-pinned contract. Pins both attribution rules: a table
    * consumer resolves by COMMITTED PATH (mart → intermediate), a view
    * consumer by plan-subtree matching with the view's own scans
    * subtracted (intermediate → the two staging views, with no phantom
    * raw edges). The twin is the pinned edge list itself (constant
    * VALUES — the contract, not a recomputation). */
  val s17LineageEdges: Q = Q.sql(
    "s17_lineage_edges",
    """SELECT * FROM (VALUES
      |  ('intermediate.order_segments', 'staging.customers_typed'),
      |  ('intermediate.order_segments', 'staging.orders_typed'),
      |  ('mart.segment_rollup', 'intermediate.order_segments'),
      |  ('staging.customers_typed', 'raw.customer_src'),
      |  ('staging.orders_typed', 'raw.orders_src')
      |) AS t(model, upstream)
      |ORDER BY model, upstream""".stripMargin) { (s, d) =>
    import s.implicits._
    val cat = new graft.ref.Catalog(s,
      Q.tempDir("graft_lineage").toString)
    val rawO = cat.saveTable("raw", "orders_src",
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice"))
    val rawC = cat.saveTable("raw", "customer_src",
      Tables.customer(s, d).select("c_custkey", "c_mktsegment"))
    val stgO = cat.saveView("staging", "orders_typed",
      rawO.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("price")))
    val stgC = cat.saveView("staging", "customers_typed",
      rawC.select(col("c_custkey"), col("c_mktsegment").as("segment")))
    val int = cat.saveTable("intermediate", "order_segments",
      stgO.join(stgC, col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).cast("long").as("n_orders")))
    cat.saveTable("mart", "segment_rollup",
      int.agg(count(lit(1)).cast("long").as("n_segments")))
    cat.lineage.toSeq
      .flatMap { case (m, ups) => ups.toSeq.map(u => (m, u)) }
      .toDF("model", "upstream")
      .orderBy("model", "upstream")
  }

  val all: Seq[Q] = Seq(p1UnionAlign, p2p3FlagExcept, a15MultiLevel,
    u2UnionDistinct, fString, fPseudonymize, fHash, fDate, fSafeNumeric,
    fZOrderKey,
    s5MergeUpsert,
    s6VersionDiff, s13Scd2, s14SkippingRead, s15DppPrune, j17PitJoin,
    tsSpineFill,
    i1Incremental, i5LookbackMerge, a17EventRollup,
    s16SnapshotRead, s17LineageEdges)
}
