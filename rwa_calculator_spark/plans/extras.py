"""Remaining reference-surface queries: provisions offset, CIU look-through,
settlement risk, embedding-cosine near-dup (SURVEY §1.4 tables provisions /
ciu_holdings / failed_trades; BASELINE.json dedup list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rwa_calculator_spark.functions.exact import scaled_sum, sql_scaled_sum
from rwa_calculator_spark.functions.text import sql_hash32
from rwa_calculator_spark.operators.similarity import (
    spark_dot,
    spark_lsh_bucket,
    sql_dot,
    sql_lsh_bucket,
)
from rwa_calculator_spark.plans.registry import query
from rwa_calculator_spark.sources.star import load_table


@query(
    "provisions_offset",
    oracle=f"""
    WITH provisions AS (
        SELECT o_custkey,
               {sql_scaled_sum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.02 ELSE 0.0 END", 2)} AS provision_pool
        FROM orders GROUP BY o_custkey
    ), exposures AS (
        SELECT o.o_custkey, o.o_orderkey, o.o_totalprice AS ead,
               o.o_totalprice / nullif(
                   sum(CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT))
                       OVER (PARTITION BY o.o_custkey) / CAST(100 AS DOUBLE), 0) AS share
        FROM orders o
    )
    SELECT count(*) AS n_exposures,
           {sql_scaled_sum('e.ead', 2)} AS total_ead,
           {sql_scaled_sum('greatest(e.ead - p.provision_pool * e.share, 0.0)', 2)} AS total_ead_net
    FROM exposures e JOIN provisions p ON e.o_custkey = p.o_custkey
    """,
    tags=("domain", "provisions"),
)
def provisions_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IFRS9 provision offset: a per-obligor provision pool allocated
    pro-rata over the obligor's exposures and netted from EAD
    (ref provisions table schemas.py:916 + engine/crm/processor.py SCRA
    offset; the allocation kernel shape of engine/kernels/allocation.py)."""
    o = load_table(spark, sf_dir, "orders")
    provisions = o.groupBy("o_custkey").agg(
        scaled_sum(
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice") * 0.02).otherwise(0.0), 2
        ).alias("provision_pool")
    )
    w = W.partitionBy("o_custkey")
    denom = F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long")).over(w) / F.lit(100.0)
    exposures = o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").alias("ead"),
        (F.col("o_totalprice") / F.nullif(denom, F.lit(0.0))).alias("share"),
    )
    j = exposures.join(provisions, "o_custkey")
    net = F.greatest(F.col("ead") - F.col("provision_pool") * F.col("share"), F.lit(0.0))
    return j.agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead"), 2).alias("total_ead"),
        scaled_sum(net, 2).alias("total_ead_net"),
    )


@query(
    "ciu_lookthrough",
    oracle=f"""
    WITH holdings AS (
        SELECT o.o_orderkey AS fund, l.l_linenumber AS holding,
               l.l_extendedprice / nullif(
                   sum(CAST(round(l.l_extendedprice * 100.0, 0) AS BIGINT))
                       OVER (PARTITION BY o.o_orderkey) / CAST(100 AS DOUBLE), 0) AS weight,
               CAST(CASE l.l_returnflag WHEN 'A' THEN 0.2 WHEN 'N' THEN 0.5
                    ELSE 1.0 END AS DOUBLE) AS underlying_rw,
               o.o_totalprice AS fund_value
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT CAST(fund AS BIGINT) % 10 AS fund_bucket,
           count(*) AS n_holdings,
           {sql_scaled_sum('fund_value * weight * underlying_rw', 2)} AS lookthrough_rwa
    FROM holdings GROUP BY 1
    """,
    tags=("domain", "ciu"),
)
def ciu_lookthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIU look-through: a fund's RWA = Σ over underlying holdings of
    fund_value × holding weight × underlying RW (CRR Art.132a; ref
    ciu_holdings table + engine/sa/ lookthrough). Weight denominators are
    exact windowed sums — conservation of fund value holds by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    j = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    w = W.partitionBy("o_orderkey")
    denom = F.sum(F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")).over(w) / F.lit(
        100.0
    )
    holdings = j.select(
        F.col("o_orderkey").alias("fund"),
        (F.col("l_extendedprice") / F.nullif(denom, F.lit(0.0))).alias("weight"),
        F.when(F.col("l_returnflag") == "A", 0.2)
        .when(F.col("l_returnflag") == "N", 0.5)
        .otherwise(1.0)
        .cast("double")
        .alias("underlying_rw"),
        F.col("o_totalprice").alias("fund_value"),
    )
    return holdings.groupBy(
        (F.col("fund").cast("long") % 10).alias("fund_bucket")
    ).agg(
        F.count("*").alias("n_holdings"),
        scaled_sum(
            F.col("fund_value") * F.col("weight") * F.col("underlying_rw"), 2
        ).alias("lookthrough_rwa"),
    )


@query(
    "settlement_risk",
    oracle=f"""
    WITH failed AS (
        SELECT l_orderkey, l_extendedprice AS exposure,
               date_diff('day', o_orderdate, l_shipdate) AS days_late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l_linestatus = 'F' AND date_diff('day', o_orderdate, l_shipdate) >= 5
    ), weighted AS (
        SELECT exposure,
               CAST(CASE WHEN days_late BETWEEN 5 AND 15 THEN 0.08
                         WHEN days_late BETWEEN 16 AND 30 THEN 0.5
                         WHEN days_late BETWEEN 31 AND 45 THEN 0.75
                         ELSE 1.0 END AS DOUBLE) AS factor,
               CASE WHEN days_late BETWEEN 5 AND 15 THEN 'd5_15'
                    WHEN days_late BETWEEN 16 AND 30 THEN 'd16_30'
                    WHEN days_late BETWEEN 31 AND 45 THEN 'd31_45'
                    ELSE 'd46_plus' END AS band
        FROM failed
    )
    SELECT band, count(*) AS n_trades,
           {sql_scaled_sum('exposure * factor', 2)} AS capital_charge
    FROM weighted GROUP BY band
    """,
    tags=("domain", "settlement"),
)
def settlement_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Settlement risk on failed trades: days-late band → capital factor
    (CRR Art.378 table: 8%/50%/75%/100%; ref failed_trades schemas.py:1716)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    days_late = F.datediff("l_shipdate", "o_orderdate")
    failed = j.where((F.col("l_linestatus") == "F") & (days_late >= 5)).select(
        F.col("l_extendedprice").alias("exposure"), days_late.alias("days_late")
    )
    factor = (
        F.when(F.col("days_late").between(5, 15), 0.08)
        .when(F.col("days_late").between(16, 30), 0.5)
        .when(F.col("days_late").between(31, 45), 0.75)
        .otherwise(1.0)
        .cast("double")
    )
    band = (
        F.when(F.col("days_late").between(5, 15), "d5_15")
        .when(F.col("days_late").between(16, 30), "d16_30")
        .when(F.col("days_late").between(31, 45), "d31_45")
        .otherwise("d46_plus")
    )
    return failed.groupBy(band.alias("band")).agg(
        F.count("*").alias("n_trades"),
        scaled_sum(F.col("exposure") * factor, 2).alias("capital_charge"),
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding, label,
               {sql_lsh_bucket('embedding', 8)} AS bucket
        FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
               a.label AS label_a, c.label AS label_b,
               round({sql_dot('a.embedding', 'c.embedding')}
                     / sqrt({sql_dot('a.embedding', 'a.embedding')}
                            * {sql_dot('c.embedding', 'c.embedding')}), 12) AS cosine
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    SELECT CASE WHEN cosine >= 0.99 THEN 'dup' WHEN cosine >= 0.9 THEN 'near'
                ELSE 'distinct' END AS verdict,
           sum(CASE WHEN label_a = label_b THEN 1 ELSE 0 END)::BIGINT AS n_same_label,
           count(*) AS n_pairs
    FROM pairs GROUP BY 1
    """,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: LSH-bucket candidate generation
    (never all-pairs) then exact cosine thresholds (dup ≥0.99 / near ≥0.9)
    — the semantic-dedup stage of an LLM data pipeline."""
    e = load_table(spark, sf_dir, "embeddings")
    # self-norm once per vector, not per candidate pair (bit-identical)
    b = e.select(
        "vec_id",
        "embedding",
        "label",
        spark_lsh_bucket("embedding", 8).alias("bucket"),
        spark_dot("embedding", "embedding").alias("n2"),
    )
    a = b.alias("a")
    c = b.alias("c")
    cos = F.round(
        spark_dot("a.embedding", "c.embedding")
        / F.sqrt(F.col("a.n2") * F.col("c.n2")),
        12,
    )
    pairs = (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket")) & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(
            F.col("a.label").alias("label_a"),
            F.col("c.label").alias("label_b"),
            cos.alias("cosine"),
        )
    )
    verdict = (
        F.when(F.col("cosine") >= 0.99, "dup")
        .when(F.col("cosine") >= 0.9, "near")
        .otherwise("distinct")
    )
    return pairs.groupBy(verdict.alias("verdict")).agg(
        F.sum(F.when(F.col("label_a") == F.col("label_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_same_label"),
        F.count("*").alias("n_pairs"),
    )


@query(
    "securitisation_pools",
    oracle=f"""
    WITH allocs AS (
        SELECT 'L' || l_orderkey AS exposure_reference,
               'POOL' || (l_suppkey % 5) AS pool_reference,
               CAST(round(0.2 * 1000000.0, 0) AS BIGINT) / 1000000.0 AS allocation_pct
        FROM lineitem
        WHERE l_linenumber <= 3
        GROUP BY 1, 2
    ), pct AS (
        SELECT exposure_reference,
               sum(CAST(round(allocation_pct * 1000000.0, 0) AS BIGINT)) / 1000000.0 AS total_pct
        FROM allocs GROUP BY exposure_reference
    ), expo AS (
        SELECT 'L' || o_orderkey AS exposure_reference, o_totalprice AS amount FROM orders
    ), allocated AS (
        SELECT a.pool_reference, e.amount * a.allocation_pct AS allocated_amount
        FROM expo e JOIN allocs a ON e.exposure_reference = a.exposure_reference
        UNION ALL
        SELECT 'RETAINED', e.amount * (1.0 - coalesce(p.total_pct, 0.0))
        FROM expo e LEFT JOIN pct p ON e.exposure_reference = p.exposure_reference
    )
    SELECT pool_reference, count(*) AS n_slices,
           {sql_scaled_sum('allocated_amount', 2)} AS allocated_total
    FROM allocated GROUP BY pool_reference
    """,
    tags=("domain", "securitisation", "nested"),
)
def securitisation_pools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Securitisation pool allocation through the real nested-column
    operator (operators/securitisation.py): allocation rows → sorted
    List(Struct) per exposure (the reference's pool_allocations column) →
    exploded to pool-level amounts with a RETAINED remainder. Conservation
    (Σ pools + retained = Σ exposures) is pinned in unit tests."""
    from rwa_calculator_spark.operators.securitisation import (
        build_allocation_column,
        explode_to_pools,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    allocations = (
        li.where(F.col("l_linenumber") <= 3)
        .select(
            F.concat(F.lit("L"), F.col("l_orderkey")).alias("exposure_reference"),
            F.concat(F.lit("POOL"), (F.col("l_suppkey") % 5)).alias("pool_reference"),
            (F.round(F.lit(0.2) * 1e6, 0).cast("long") / F.lit(1e6)).alias("allocation_pct"),
        )
        .distinct()
    )
    exposures = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.col("o_totalprice").alias("amount"),
    )
    pools = explode_to_pools(exposures, build_allocation_column(allocations))
    return pools.groupBy("pool_reference").agg(
        F.count("*").alias("n_slices"),
        scaled_sum(F.col("allocated_amount"), 2).alias("allocated_total"),
    )


_SSFA_TRANCHES = [("JUN", 0.0, 0.05), ("MEZ", 0.05, 0.15), ("SEN", 0.15, 1.0)]


def _sql_ssfa() -> str:
    from rwa_calculator_spark.functions.secsa import sql_ssfa_rw

    values = ", ".join(
        f"('{t}', CAST({a} AS DOUBLE), CAST({d} AS DOUBLE))"
        for t, a, d in _SSFA_TRANCHES
    )
    rw = sql_ssfa_rw("attachment", "detachment", "w_pool", 0.08, 1.0, 0.15)
    return f"""
    WITH pools AS (
        SELECT 'POOL' || (o_orderkey % 7) AS pool_reference,
               {sql_scaled_sum('o_totalprice * 0.25', 2)} AS pool_amount,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS w_pool
        FROM orders WHERE o_orderkey % 10 = 0
        GROUP BY o_orderkey % 7
    ), tranched AS (
        SELECT p.*, t.tranche_reference, t.attachment, t.detachment
        FROM pools p CROSS JOIN (VALUES {values})
             AS t(tranche_reference, attachment, detachment)
    ), weighted AS (
        SELECT pool_reference, tranche_reference, attachment, detachment,
               round(w_pool, 12) AS w_pool,
               round({rw}, 10) AS risk_weight,
               pool_amount
        FROM tranched
    )
    SELECT pool_reference, tranche_reference, attachment, detachment, w_pool,
           risk_weight,
           floor(pool_amount * (detachment - attachment) * risk_weight * 100.0 + 0.5)
               / 100.0 AS rwa
    FROM weighted
    """


@query(
    "sec_sa_ssfa",
    oracle=_sql_ssfa(),
    tags=("domain", "securitisation", "stats"),
)
def sec_sa_ssfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SSFA tranche risk weight (BCBS CRE41.16-18 / CRR Art.261-262;
    functions/secsa.py — beyond the reference, whose aggregator reports a
    placeholder per-pool RWA). Pools aggregate from orders with a
    data-derived delinquency ratio W; three constant tranches per pool
    cover all three SSFA branches (D ≤ K_A at 1250%, straddle, senior).
    Pure exp/arithmetic → whole-stage codegen; the oracle runs the same
    V-node formula through the SQL backend, output-rounded to absorb
    exp() libm last-ulp noise."""
    from rwa_calculator_spark.functions.secsa import ssfa_risk_weight

    o = load_table(spark, sf_dir, "orders")
    pools = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .groupBy(
            F.concat(F.lit("POOL"), F.col("o_orderkey") % 7).alias("pool_reference")
        )
        .agg(
            scaled_sum(F.col("o_totalprice") * 0.25, 2).alias("pool_amount"),
            (
                F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*").cast("double")
            ).alias("w_pool"),
        )
    )
    tranches = spark.createDataFrame(
        _SSFA_TRANCHES, "tranche_reference string, attachment double, detachment double"
    )
    tranched = pools.crossJoin(F.broadcast(tranches))
    rw = ssfa_risk_weight(
        F.col("attachment"),
        F.col("detachment"),
        F.col("w_pool"),
        ksa=0.08,
        p=1.0,
        floor=0.15,
    )
    # rwa derives from the ROUNDED risk weight so both engines multiply
    # bit-identical doubles, and the final 2-dp rounding is an explicit
    # floor(x·100 + 0.5)/100 half-up: flat-12.5 RW × 2-dp pool × 0.10 width
    # makes EXACT decimal cent ties routine, and DuckDB's round() resolves
    # such ties differently from Spark's on doubles.
    staged = tranched.withColumn("risk_weight", F.round(rw, 10))
    rwa_raw = (
        F.col("pool_amount")
        * (F.col("detachment") - F.col("attachment"))
        * F.col("risk_weight")
    )
    return staged.select(
        "pool_reference",
        "tranche_reference",
        "attachment",
        "detachment",
        F.round("w_pool", 12).alias("w_pool"),
        "risk_weight",
        (F.floor(rwa_raw * 100.0 + 0.5).cast("double") / 100.0).alias("rwa"),
    )


@query(
    "asof_join_events",
    oracle=f"""
    WITH purchases AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ), matched AS (
        SELECT p.user_id, p.ts AS p_ts, c.ts AS c_ts, c.value AS c_value
        FROM purchases p ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT user_id,
           count(*) AS n_purchases,
           count(c_ts) AS n_with_prior_click,
           sum(CASE WHEN c_ts IS NOT NULL
                    THEN epoch_us(p_ts) - epoch_us(c_ts) ELSE 0 END)::BIGINT AS total_gap_us,
           {sql_scaled_sum('coalesce(c_value, 0.0)', 2)} AS total_click_value
    FROM matched GROUP BY user_id
    """,
    tags=("asof", "window"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior
    click (operators/asof.py window implementation — one shuffle, no
    per-group Python; DuckDB's native ASOF JOIN is the oracle). Gap output
    in exact integer microseconds so cross-engine parity is bitwise."""
    from rwa_calculator_spark.operators.asof import asof_join_window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    m = asof_join_window(purchases, clicks, key="user_id", ts="ts", value_cols=("value",))
    gap = F.when(
        F.col("asof_ts").isNotNull(),
        # ts is TIMESTAMP_NTZ; session tz is UTC so the cast is an identity
        # relabel and unix_micros matches DuckDB's epoch_us on the naive ts
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("asof_ts").cast("timestamp")),
    ).otherwise(F.lit(0))
    return m.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.count("asof_ts").alias("n_with_prior_click"),
        F.sum(gap).cast("long").alias("total_gap_us"),
        scaled_sum(F.coalesce("asof_value", F.lit(0.0)), 2).alias("total_click_value"),
    )


_SQL_NEARDUP_EDGES = """
    ws AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n_words FROM ws GROUP BY doc_id
    ), rare AS (
        SELECT doc_id, word FROM ws
        QUALIFY count(*) OVER (PARTITION BY word) <= 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM rare a JOIN rare b ON a.word = b.word AND a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.src, c.dst, count(*) AS n_common
        FROM cand c
        JOIN ws a ON a.doc_id = c.src
        JOIN ws b ON b.doc_id = c.dst AND b.word = a.word
        GROUP BY 1, 2 HAVING count(*) >= 20
    ), nd_edges AS (
        SELECT i.src, i.dst
        FROM inter i
        JOIN sizes sa ON i.src = sa.doc_id
        JOIN sizes sb ON i.dst = sb.doc_id
        WHERE CAST(i.n_common AS DOUBLE)
              / CAST(sa.n_words + sb.n_words - i.n_common AS DOUBLE) >= 0.6
    )"""


@query(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_NEARDUP_EDGES},
    bi AS (
        SELECT src AS n, dst AS m FROM nd_edges
        UNION ALL SELECT dst, src FROM nd_edges
    ), reach AS (
        SELECT n, m AS r FROM bi
        UNION
        SELECT re.n, b.m FROM reach re JOIN bi b ON re.r = b.n
    ), comp AS (
        SELECT d.doc_id,
               least(d.doc_id, coalesce(min(re.r), d.doc_id)) AS component
        FROM documents d LEFT JOIN reach re ON d.doc_id = re.n
        GROUP BY d.doc_id
    ), comp_sizes AS (
        SELECT component, count(*) AS component_size FROM comp GROUP BY component
    )
    SELECT component_size, count(*) AS n_components
    FROM comp_sizes GROUP BY component_size
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: word-Jaccard ≥0.6 candidate pairs grouped into
    connected components by min-label propagation
    (operators/clustering.py) — 'keep one per cluster' dedup. Output is the
    component-size histogram; the oracle re-derives components via a
    recursive reachability CTE."""
    from rwa_calculator_spark.operators.clustering import connected_components
    from rwa_calculator_spark.utils import release_cached_blocks

    release_cached_blocks(spark)  # bound the one-session cached footprint
    d = load_table(spark, sf_dir, "documents")
    # Same shape as dedup_ngram_jaccard: the word-set frame feeds FOUR
    # consumers (sizes, the rare-word filter, both sides of the exact
    # intersection join) and would otherwise re-run the
    # scan+split+explode+distinct subtree per consumer (guide §1.2 /
    # §3.3). The lazy localCheckpoint computes it once.
    ws = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = ws.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    # df-capped candidate pass + exact verify (same scale-safe two-pass shape
    # as dedup_ngram_jaccard — no hot-token quadratic join)
    rare = (
        ws.withColumn("_df", F.count("*").over(W.partitionBy("word")))
        .where(F.col("_df") <= 1000)
        .drop("_df")
    )
    a = rare.alias("a")
    b = rare.alias("b")
    cand = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    wa = ws.alias("wa")
    wb = ws.alias("wb")
    inter = (
        cand.join(wa, F.col("src") == F.col("wa.doc_id"))
        .join(wb, (F.col("dst") == F.col("wb.doc_id")) & (F.col("wa.word") == F.col("wb.word")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= 20)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        F.col("n_common").cast("double")
        / (F.col("sa.n_words") + F.col("sb.n_words") - F.col("n_common")).cast("double")
    )
    edges = (
        inter.join(sa, F.col("src") == F.col("sa.doc_id"))
        .join(sb, F.col("dst") == F.col("sb.doc_id"))
        .where(jac >= 0.6)
        .select("src", "dst")
        # materialise once: every propagation round re-joins the edge set,
        # and an unmaterialised lineage would recompute the full Jaccard
        # self-join per round (8× the work and a deep canonicalisation tree)
        .localCheckpoint()
    )
    nodes = d.select(F.col("doc_id").alias("node"))
    comp = connected_components(nodes, edges, "node", rounds=6)
    comp_sizes = comp.groupBy("component").agg(F.count("*").alias("component_size"))
    return comp_sizes.groupBy("component_size").agg(F.count("*").alias("n_components"))


@query(
    "doc_chunking",
    oracle=f"""
    WITH chunks AS (
        SELECT d.doc_id, d.lang,
               array_to_string(
                   list_slice(string_split(d.text, ' '), s.start,
                              least(s.start + 49, len(string_split(d.text, ' ')))),
                   ' ') AS chunk_text
        FROM documents d,
             LATERAL unnest(generate_series(1, len(string_split(d.text, ' ')), 40)) AS s(start)
    )
    SELECT lang,
           count(*) AS n_chunks,
           sum(len(string_split(chunk_text, ' ')))::BIGINT AS total_chunk_tokens,
           count(DISTINCT {sql_hash32('chunk_text')}) AS n_distinct_chunks
    FROM chunks GROUP BY lang
    """,
    tags=("llm", "text"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training pipelines: 50-token windows with
    stride 40 (10-token overlap), per-chunk token accounting and distinct
    chunk fingerprints. Pure array expressions — sequence/slice — no UDF."""
    from rwa_calculator_spark.functions.text import hash32

    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    chunks = d.select(
        "doc_id",
        "lang",
        words.alias("w"),
        F.explode(F.sequence(F.lit(1), F.size(words), F.lit(40))).alias("start"),
    ).select(
        "doc_id",
        "lang",
        F.concat_ws(" ", F.slice(F.col("w"), F.col("start"), 50)).alias("chunk_text"),
    )
    return chunks.groupBy("lang").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.size(F.split("chunk_text", " "))).cast("long").alias("total_chunk_tokens"),
        F.countDistinct(hash32(F.col("chunk_text"))).alias("n_distinct_chunks"),
    )


def _sql_sec_irba() -> str:
    from rwa_calculator_spark.functions.secsa import sql_ssfa_rw_cols

    values = ", ".join(
        f"('{t}', CAST({a} AS DOUBLE), CAST({d} AS DOUBLE))"
        for t, a, d in _SSFA_TRANCHES
    )
    p_expr = (
        "greatest(0.3, 0.0 + 3.56 / pool_n + (-1.85) * k_irb"
        " + 0.55 * pool_lgd + 0.07 * pool_m)"
    )
    rw = sql_ssfa_rw_cols(
        "attachment", "detachment", "0.0", "k_irb", "p_irba", 0.15
    )
    return f"""
    WITH pools AS (
        SELECT 'POOL' || ((o_orderkey % 50 - 5) // 10) AS pool_reference,
               {sql_scaled_sum('o_totalprice * 0.25', 2)} AS pool_amount,
               0.04 + CAST((o_orderkey % 50 - 5) // 10 AS DOUBLE) / 50.0 AS k_irb,
               10.0 + CAST((o_orderkey % 50 - 5) // 10 AS DOUBLE) * 8.0 AS pool_n,
               0.25 + CAST((o_orderkey % 50 - 5) // 10 AS DOUBLE) / 20.0 AS pool_lgd,
               1.0 + CAST((o_orderkey % 50 - 5) // 10 AS DOUBLE) AS pool_m
        FROM orders WHERE o_orderkey % 10 = 5
        GROUP BY 1, 3, 4, 5, 6
    ), tranched AS (
        SELECT p.*, round({p_expr}, 12) AS p_irba,
               t.tranche_reference, t.attachment, t.detachment
        FROM pools p CROSS JOIN (VALUES {values})
             AS t(tranche_reference, attachment, detachment)
    ), weighted AS (
        SELECT pool_reference, tranche_reference, attachment, detachment,
               k_irb, p_irba,
               round({rw}, 10) AS risk_weight,
               pool_amount
        FROM tranched
    )
    SELECT pool_reference, tranche_reference, attachment, detachment,
           k_irb, p_irba, risk_weight,
           floor(pool_amount * (detachment - attachment) * risk_weight * 100.0 + 0.5)
               / 100.0 AS rwa
    FROM weighted
    """


@query(
    "sec_irba_ssfa",
    oracle=_sql_sec_irba(),
    tags=("domain", "securitisation", "stats"),
)
def sec_irba_ssfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEC-IRBA tranche risk weight (CRR Art.259 / BCBS CRE44; engine
    twin: calculators.run_secsa k_irb branch): the SSFA closed form with
    the pool's own K_IRB and the supervisory p-formula
    p = max(0.3, A + B/N + C·K_IRB + D·LGD + E·M_T) using the senior
    granular wholesale coefficient row (CRE44.23). Column-valued K and p
    exercise functions/secsa.ssfa_risk_weight_cols; both engines run the
    identical V-node arithmetic, output-rounded to absorb exp() last-ulp
    noise."""
    from rwa_calculator_spark.functions.secsa import ssfa_risk_weight_cols

    o = load_table(spark, sf_dir, "orders")
    key = F.floor((F.col("o_orderkey") % 50 - 5) / 10).cast("long")
    pools = (
        o.where(F.col("o_orderkey") % 10 == 5)
        .groupBy(
            F.concat(F.lit("POOL"), key).alias("pool_reference"),
            (0.04 + key.cast("double") / 50.0).alias("k_irb"),
            (10.0 + key.cast("double") * 8.0).alias("pool_n"),
            (0.25 + key.cast("double") / 20.0).alias("pool_lgd"),
            (1.0 + key.cast("double")).alias("pool_m"),
        )
        .agg(scaled_sum(F.col("o_totalprice") * 0.25, 2).alias("pool_amount"))
    )
    p_irba = F.round(
        F.greatest(
            F.lit(0.3),
            F.lit(0.0)
            + F.lit(3.56) / F.col("pool_n")
            + F.lit(-1.85) * F.col("k_irb")
            + F.lit(0.55) * F.col("pool_lgd")
            + F.lit(0.07) * F.col("pool_m"),
        ),
        12,
    )
    tranches = spark.createDataFrame(
        _SSFA_TRANCHES, "tranche_reference string, attachment double, detachment double"
    )
    tranched = pools.crossJoin(F.broadcast(tranches)).withColumn("p_irba", p_irba)
    rw = ssfa_risk_weight_cols(
        F.col("attachment"),
        F.col("detachment"),
        F.lit(0.0),
        F.col("k_irb"),
        F.col("p_irba"),
        floor=0.15,
    )
    staged = tranched.withColumn("risk_weight", F.round(rw, 10))
    rwa_raw = (
        F.col("pool_amount")
        * (F.col("detachment") - F.col("attachment"))
        * F.col("risk_weight")
    )
    return staged.select(
        "pool_reference",
        "tranche_reference",
        "attachment",
        "detachment",
        "k_irb",
        "p_irba",
        "risk_weight",
        (F.floor(rwa_raw * 100.0 + 0.5).cast("double") / 100.0).alias("rwa"),
    )
