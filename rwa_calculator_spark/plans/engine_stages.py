"""Driver queries that exercise the round-2 ENGINE stages directly — the MOF
facility-undrawn waterfall and the Art.138 ratings derivation — over a
deterministic star-schema mapping, each oracled end-to-end in DuckDB
(VERDICT r2 #1: these stages were previously proven only by local tests).

Mapping (shared by Spark and oracle):
- every supplier s is a facility F{s}; groups of five by key: the first
  member is the ROOT, the second a direct child, the rest children of the
  second (depth-2 hierarchy exercising multi-level root resolution);
- limits are integer-valued ((s%9+1)*5e6, sized so per-facility drawn
  utilisation lands mid-range at every scale factor), drawn are integer
  floors of lineitem extended prices — every sum is exact in binary
  floating point regardless of partitioning/merge order, so the waterfall
  needs no tolerance to bit-match DuckDB;
- ratings derive from orders: agency = orderkey%3, CQS = 1+orderkey%6,
  date = o_orderdate, short-term flag on orderkey%17 (excluded rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import RawBundle
from rwa_calculator_spark.engine.rulepack import CRR_PACK
from rwa_calculator_spark.engine.stages.facility import facility_undrawn_exposures
from rwa_calculator_spark.engine.stages.scope import resolve_scope
from rwa_calculator_spark.engine.stages.ratings import (
    resolve_external_cqs,
    resolve_internal_pd,
)
from rwa_calculator_spark.operators.graph import resolve_ultimate_parent_iterative
from rwa_calculator_spark.plans.registry import query
from rwa_calculator_spark.sources.star import load_table
from rwa_calculator_spark.utils import release_cached_blocks


def _facility_frames(spark: SparkSession, sf_dir: str):
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    sk = F.col("s_suppkey")
    r = (sk - 1) - (sk - 1) % 5 + 1  # group root key
    i = (sk - 1) % 5  # member index within the group
    bucket = (
        F.when(sk % 4 == 0, "full_risk")
        .when(sk % 4 == 1, "medium_risk")
        .when(sk % 4 == 2, "medium_low_risk")
        .otherwise("low_risk")
    )
    facilities = s.select(
        F.concat(F.lit("F"), sk).alias("facility_reference"),
        F.concat(F.lit("CPF"), r).alias("counterparty_reference"),
        (
            (sk % 9 + 1) * 5000000.0 * F.when(i == 0, 3.0).otherwise(1.0)
        ).alias("limit"),  # roots 3× so some parents out-headroom their subs (residual rows)
        (sk % 11 != 0).alias("committed"),
        bucket.alias("risk_bucket"),
    )
    fac_edges = s.where(i != 0).select(
        F.concat(F.lit("F"), F.when(i == 1, r).otherwise(r + 1)).alias(
            "parent_facility_reference"
        ),
        F.concat(F.lit("F"), sk).alias("child_reference"),
        F.lit("facility").alias("child_type"),
    )
    # one loan per order, mapped to the facility of its first lineitem's
    # min supplier; integer-floored drawn keeps group sums exact
    lo = (
        li.where(F.col("l_linenumber") == 1)
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("_supp"),
            F.sum(F.floor("l_extendedprice")).cast("double").alias("drawn_amount"),
        )
    )
    loans = lo.select(
        F.concat(F.lit("LO"), F.col("l_orderkey")).alias("loan_reference"),
        "drawn_amount",
    )
    loan_edges = lo.select(
        F.concat(F.lit("F"), F.col("_supp")).alias("parent_facility_reference"),
        F.concat(F.lit("LO"), F.col("l_orderkey")).alias("child_reference"),
        F.lit("loan").alias("child_type"),
    )
    return facilities, loans, fac_edges.unionByName(loan_edges)


_FACILITY_ORACLE = """
WITH RECURSIVE fac AS (
    SELECT s_suppkey AS s,
           'F' || s_suppkey AS fref,
           (s_suppkey-1) - (s_suppkey-1) % 5 + 1 AS r,
           (s_suppkey % 9 + 1) * 5000000.0
               * (CASE WHEN (s_suppkey-1) % 5 = 0 THEN 3.0 ELSE 1.0 END) AS lim,
           (s_suppkey % 11 <> 0) AS committed,
           CASE s_suppkey % 4 WHEN 0 THEN 'full_risk' WHEN 1 THEN 'medium_risk'
                WHEN 2 THEN 'medium_low_risk' ELSE 'low_risk' END AS bucket
    FROM supplier
), fmap AS (
    SELECT fref AS child,
           CASE WHEN (s-1) % 5 = 1 THEN 'F' || r ELSE 'F' || (r+1) END AS parent
    FROM fac WHERE (s-1) % 5 <> 0
), walk AS (
    SELECT child AS node, parent AS anc, 1 AS depth FROM fmap
    UNION ALL
    SELECT w.node, f.parent, w.depth + 1 FROM walk w JOIN fmap f ON w.anc = f.child
), rootlk AS (
    SELECT node AS child, anc AS root FROM walk
    QUALIFY row_number() OVER (PARTITION BY node ORDER BY depth DESC) = 1
), lo AS (
    SELECT 'F' || min(l_suppkey) AS pfac,
           sum(floor(l_extendedprice)) AS drawn
    FROM lineitem WHERE l_linenumber = 1 GROUP BY l_orderkey
), lo_rooted AS (
    SELECT coalesce(rl.root, lo.pfac) AS agg_fac, lo.pfac, lo.drawn
    FROM lo LEFT JOIN rootlk rl ON lo.pfac = rl.child
), drawn_by_root AS (
    SELECT agg_fac, sum(drawn) AS total_drawn FROM lo_rooted GROUP BY agg_fac
), drawn_by_sub AS (
    SELECT pfac, sum(drawn) AS sub_drawn FROM lo_rooted GROUP BY pfac
), roots AS (
    SELECT f.*, greatest(f.lim - coalesce(d.total_drawn, 0.0), 0.0) AS undrawn
    FROM fac f
    LEFT JOIN drawn_by_root d ON f.fref = d.agg_fac
    WHERE f.fref NOT IN (SELECT child FROM rootlk)
      AND f.committed
      AND greatest(f.lim - coalesce(d.total_drawn, 0.0), 0.0) > 0.0
), mof AS (
    SELECT DISTINCT root FROM rootlk
), descendants AS (
    SELECT rl.root AS proot, sf.fref AS sref, sf.bucket AS sbucket, sf.r AS sr,
           greatest(sf.lim - coalesce(ds.sub_drawn, 0.0), 0.0) AS sub_headroom,
           CASE sf.bucket WHEN 'full_risk' THEN 1.0 WHEN 'medium_risk' THEN 0.5
                WHEN 'medium_low_risk' THEN 0.2 ELSE 0.0 END AS sub_ccf
    FROM rootlk rl
    JOIN fac sf ON rl.child = sf.fref
    LEFT JOIN drawn_by_sub ds ON sf.fref = ds.pfac
    WHERE sf.committed AND sf.bucket IS NOT NULL
), wf AS (
    SELECT d.*, r2.undrawn AS parent_headroom, r2.bucket AS parent_bucket,
           r2.r AS pr,
           sum(d.sub_headroom) OVER (
               PARTITION BY d.proot
               ORDER BY d.sub_ccf DESC, d.sbucket ASC, d.sref ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM descendants d JOIN roots r2 ON d.proot = r2.fref
), alloc AS (
    SELECT *, greatest(least(sub_headroom,
                greatest(parent_headroom - (cum - sub_headroom), 0.0)), 0.0) AS allocation
    FROM wf
), sub_rows AS (
    SELECT proot || '_UNDRAWN_' || sref AS exposure_reference,
           'CPF' || sr AS counterparty_reference,
           allocation AS undrawn_amount, sbucket AS risk_bucket
    FROM alloc WHERE allocation > 0.0
), residual AS (
    SELECT proot || '_UNDRAWN_RESIDUAL' AS exposure_reference,
           'CPF' || pr AS counterparty_reference,
           greatest(parent_headroom - sum(allocation), 0.0) AS undrawn_amount,
           parent_bucket AS risk_bucket
    FROM alloc WHERE allocation > 0.0
    GROUP BY proot, parent_headroom, pr, parent_bucket
    HAVING greatest(parent_headroom - sum(allocation), 0.0) > 0.0
), non_mof AS (
    SELECT fref || '_UNDRAWN' AS exposure_reference,
           'CPF' || r AS counterparty_reference,
           undrawn AS undrawn_amount, bucket AS risk_bucket
    FROM roots WHERE fref NOT IN (SELECT root FROM mof)
), mof_no_pos AS (
    SELECT fref || '_UNDRAWN' AS exposure_reference,
           'CPF' || r AS counterparty_reference,
           undrawn AS undrawn_amount, bucket AS risk_bucket
    FROM roots WHERE fref IN (SELECT root FROM mof)
      AND fref NOT IN (SELECT proot FROM alloc WHERE allocation > 0.0)
)
SELECT * FROM non_mof
UNION ALL SELECT * FROM sub_rows
UNION ALL SELECT * FROM residual
UNION ALL SELECT * FROM mof_no_pos
"""


@query("facility_undrawn_waterfall", oracle=_FACILITY_ORACLE, tags=("engine", "facility"))
def facility_undrawn_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOF facility-undrawn waterfall through the REAL engine stage
    (engine/stages/facility.py facility_undrawn_exposures; ref
    engine/stages/hierarchy/facility_undrawn.py:55-187,751): multi-level
    root resolution, netting-aware drawn aggregation, per-sub allocation
    by descending CCF with residual and fallback rows — re-derived in
    DuckDB as a recursive CTE + ordered window cumsum."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    facilities, loans, mappings = _facility_frames(spark, sf_dir)
    out = facility_undrawn_exposures(facilities, loans, None, mappings, CRR_PACK)
    return out.select(
        "exposure_reference", "counterparty_reference", "undrawn_amount", "risk_bucket"
    )


_RATINGS_ORACLE = """
WITH ratings AS (
    SELECT 'CP' || o_custkey AS cp, 'AG' || (o_orderkey % 3) AS agency,
           o_orderdate AS rdate, 'R' || o_orderkey AS rref,
           CAST(1 + o_orderkey % 6 AS INTEGER) AS cqs
    FROM orders WHERE o_orderkey % 17 <> 0
), latest AS (
    SELECT * FROM ratings
    QUALIFY row_number() OVER (
        PARTITION BY cp, agency ORDER BY rdate DESC, rref DESC) = 1
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY cp ORDER BY cqs ASC, agency ASC) AS rk,
           count(*) OVER (PARTITION BY cp) AS n
    FROM latest
)
SELECT cp AS counterparty_reference, cqs AS external_cqs,
       agency AS external_rating_agency
FROM ranked WHERE (n = 1 AND rk = 1) OR (n >= 2 AND rk = 2)
"""


def _external_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.lit("external").alias("rating_type"),
        (F.col("o_orderkey") % 17 == 0).alias("is_short_term"),
        F.concat(F.lit("AG"), F.col("o_orderkey") % 3).alias("rating_agency"),
        F.col("o_orderdate").alias("rating_date"),
        F.concat(F.lit("R"), F.col("o_orderkey")).alias("rating_reference"),
        (1 + F.col("o_orderkey") % 6).cast("int").alias("cqs"),
    )


@query("ratings_cqs_derivation", oracle=_RATINGS_ORACLE, tags=("engine", "ratings"))
def ratings_cqs_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.138 second-best external CQS through the REAL engine stage
    (engine/stages/ratings.py resolve_external_cqs; ref
    engine/stages/hierarchy/ratings.py:126): short-term exclusion,
    per-agency latest assessment, then 1-agency→use-it /
    ≥2-agencies→second-best — two QUALIFY row_numbers in DuckDB."""
    return resolve_external_cqs(_external_ratings(spark, sf_dir))


_SCOPE_ORACLE = """
WITH members AS (
    SELECT 'EN' || n_nationkey AS m FROM nation WHERE n_regionkey = 1
    UNION ALL SELECT 'ER1'
), books AS (
    SELECT 'B' || n_nationkey AS b FROM nation WHERE n_regionkey = 1
), loans AS (
    SELECT 'L' || o_orderkey AS loan_reference,
           'B' || (o_custkey % 25) AS book_code,
           CASE WHEN o_orderkey % 3 = 0
                THEN 'EN' || (o_orderkey % 30) END AS intragroup_entity_reference
    FROM orders
)
SELECT loan_reference, book_code, intragroup_entity_reference
FROM loans
WHERE book_code IN (SELECT b FROM books)
  AND (intragroup_entity_reference IS NULL
       OR intragroup_entity_reference NOT IN (SELECT m FROM members))
"""


@query("scope_semi_filter", oracle=_SCOPE_ORACLE, tags=("engine", "scope"))
def scope_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-entity reporting scope through the REAL engine stage
    (engine/stages/scope.py resolve_scope; ref
    engine/stages/scope/resolver.py:84-446, CRR Art.6/11-18): a
    GROUP→region→nation entity registry, book→entity attribution, subtree
    membership for a consolidated run on region 1, booking semi-join and
    intragroup elimination — the oracle re-derives membership and both
    filters in plain SQL."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    registry = (
        spark.createDataFrame(
            [("EGROUP", None)], "entity_reference string, parent_entity_reference string"
        )
        .unionByName(
            region.select(
                F.concat(F.lit("ER"), F.col("r_regionkey")).alias("entity_reference"),
                F.lit("EGROUP").alias("parent_entity_reference"),
            )
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("EN"), F.col("n_nationkey")).alias("entity_reference"),
                F.concat(F.lit("ER"), F.col("n_regionkey")).alias(
                    "parent_entity_reference"
                ),
            )
        )
    )
    mapping = nation.select(
        F.concat(F.lit("B"), F.col("n_nationkey")).alias("book_code"),
        F.concat(F.lit("EN"), F.col("n_nationkey")).alias("entity_reference"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("B"), F.col("o_custkey") % 25).alias("book_code"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(F.lit("EN"), F.col("o_orderkey") % 30),
        ).alias("intragroup_entity_reference"),
    )
    cps = spark.createDataFrame([("CPX",)], "counterparty_reference string")
    bundle = RawBundle(
        counterparties=cps,
        loans=loans,
        reporting_entities=registry,
        book_entity_mappings=mapping,
    )
    filtered, _errors = resolve_scope(bundle, "ER1", "consolidated")
    return filtered.loans.select(
        "loan_reference", "book_code", "intragroup_entity_reference"
    )


_INTERNAL_PD_ORACLE = """
WITH RECURSIVE own AS (
    SELECT cp, pd FROM (
        SELECT 'CP' || o_custkey AS cp, 'R' || o_orderkey AS rref,
               o_orderdate AS rdate,
               CAST(1 + o_orderkey % 200 AS DOUBLE) / 1000.0 AS pd
        FROM orders WHERE o_orderkey % 4 = 0)
    QUALIFY row_number() OVER (PARTITION BY cp ORDER BY rdate DESC, rref DESC) = 1
), edges AS (
    SELECT c_custkey AS child, c_custkey // 7 AS parent FROM customer WHERE c_custkey >= 7
), walk AS (
    SELECT child AS node, parent AS anc, 1 AS depth FROM edges
    UNION ALL
    SELECT w.node, e.parent, w.depth + 1 FROM walk w JOIN edges e ON w.anc = e.child
), up AS (
    SELECT node, anc AS group_key FROM walk
    QUALIFY row_number() OVER (PARTITION BY node ORDER BY depth DESC) = 1
), ups AS (
    SELECT 'CP' || c_custkey AS cp,
           'CP' || coalesce(u.group_key, c_custkey) AS grp
    FROM customer LEFT JOIN up u ON c_custkey = u.node
)
SELECT ups.cp AS counterparty_reference, coalesce(o1.pd, o2.pd) AS internal_pd
FROM ups
LEFT JOIN own o1 ON ups.cp = o1.cp
LEFT JOIN own o2 ON ups.grp = o2.cp
WHERE coalesce(o1.pd, o2.pd) IS NOT NULL
"""


@query("ratings_internal_pd_inheritance", oracle=_INTERNAL_PD_ORACLE, tags=("engine", "ratings"))
def ratings_internal_pd_inheritance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal-PD inheritance from the ultimate parent through the REAL
    engine stage (engine/stages/ratings.py resolve_internal_pd; ref
    engine/stages/hierarchy/ratings.py:32-215, CRR Art.171(1)/175(3)):
    sparse internal ratings (every 4th order), most-recent per obligor,
    inherited along the org hierarchy when the entity has none of its own;
    external ratings never inherit."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    internal = o.where(F.col("o_orderkey") % 4 == 0).select(
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.lit("internal").alias("rating_type"),
        F.lit(False).alias("is_short_term"),
        F.col("o_orderdate").alias("rating_date"),
        F.concat(F.lit("R"), F.col("o_orderkey")).alias("rating_reference"),
        ((1 + F.col("o_orderkey") % 200).cast("double") / 1000.0).alias("pd"),
    )
    edges = c.where(F.col("c_custkey") >= 7).select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("child"),
        F.concat(F.lit("CP"), F.floor(F.col("c_custkey") / 7).cast("long")).alias("parent"),
    )
    up = resolve_ultimate_parent_iterative(edges).select(
        F.col("node").alias("counterparty_reference"),
        F.col("ultimate_parent").alias("group_reference"),
    )
    ups = (
        c.select(F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"))
        .join(up, "counterparty_reference", "left")
        .withColumn(
            "group_reference",
            F.coalesce("group_reference", "counterparty_reference"),
        )
    )
    return resolve_internal_pd(internal, ups).select(
        "counterparty_reference", "internal_pd"
    )


_MODEL_PERMISSION_ORACLE = """
WITH exp AS (
    SELECT 'E' || c_custkey AS exposure_reference,
           CASE WHEN c_custkey % 11 = 0 THEN NULL
                ELSE 'M' || (c_custkey % 6) END AS model_id,
           CASE c_mktsegment
                WHEN 'BUILDING' THEN 'corporate'
                WHEN 'AUTOMOBILE' THEN 'retail'
                WHEN 'MACHINERY' THEN 'institution'
                WHEN 'FURNITURE' THEN 'specialised'
                ELSE 'corporate' END AS exposure_class,
           'C' || (c_nationkey % 5) AS country,
           'B' || (c_custkey % 4) AS book_code
    FROM customer
), mp AS (
    SELECT 'M' || (n_nationkey % 5) AS model_id,
           CASE (n_nationkey // 5) % 3
                WHEN 0 THEN 'corporate'
                WHEN 1 THEN 'retail'
                ELSE 'institution' END AS exposure_class,
           CASE n_nationkey % 4
                WHEN 0 THEN 'AIRB' WHEN 1 THEN 'FIRB'
                WHEN 2 THEN 'SLOTTING' ELSE 'SA' END AS approach,
           CASE WHEN n_nationkey % 2 = 0 THEN 'C0,C2,C4' END AS country_codes,
           CASE WHEN n_nationkey % 5 = 0 THEN 'B3' END AS excluded_book_codes,
           CASE WHEN n_nationkey % 4 = 3 THEN 'ppu' END AS ppu_reason
    FROM nation
), j AS (
    SELECT e.exposure_reference, e.model_id,
           m.model_id IS NOT NULL AS joined,
           m.approach, m.ppu_reason,
           (e.exposure_class = m.exposure_class
            AND (m.country_codes IS NULL
                 OR (e.country IS NOT NULL
                     AND position(e.country IN m.country_codes) > 0))
            AND (m.excluded_book_codes IS NULL
                 OR NOT coalesce(
                        position(e.book_code IN m.excluded_book_codes) > 0,
                        FALSE))) AS valid
    FROM exp e LEFT JOIN mp m ON e.model_id = m.model_id
), g AS (
    SELECT exposure_reference, model_id,
           coalesce(bool_or(valid AND approach = 'AIRB'), FALSE) AS airb_any,
           coalesce(bool_or(valid AND approach = 'FIRB'), FALSE) AS firb_any,
           coalesce(bool_or(valid AND approach = 'SLOTTING'), FALSE) AS slot_any,
           coalesce(bool_or(valid AND approach = 'SA'), FALSE) AS sa_block,
           coalesce(bool_or(joined), FALSE) AS joined_any,
           max(CASE WHEN valid AND approach = 'SA' THEN ppu_reason END) AS ppu_reason
    FROM j GROUP BY exposure_reference, model_id
)
SELECT exposure_reference,
       airb_any AND NOT sa_block AS model_airb_permitted,
       firb_any AND NOT sa_block AS model_firb_permitted,
       slot_any AND NOT sa_block AS model_slotting_permitted,
       ppu_reason,
       CASE WHEN (airb_any OR firb_any OR slot_any) AND NOT sa_block THEN NULL
            WHEN model_id IS NULL THEN 'null_model_id'
            WHEN NOT joined_any THEN 'unmatched_model_id'
            ELSE 'filter_rejected' END AS permission_diagnostic
FROM g
"""


@query("model_permission_routing", oracle=_MODEL_PERMISSION_ORACLE, tags=("engine", "classify"))
def model_permission_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-permission resolution through the REAL engine operator
    (engine/stages/permissions.py resolve_model_permissions; ref
    engine/stages/classify/permissions.py, CRR Art.143/148/150):
    per-model AIRB/FIRB/SLOTTING grants joined onto exposures, class /
    geography / book-code validity filters with null-safe three-valued
    guards, SA-precedence PPU carve-out, and the per-cause diagnostic
    (null_model_id / unmatched_model_id / filter_rejected)."""
    from rwa_calculator_spark.engine.stages.permissions import (
        resolve_model_permissions,
    )

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    exposures = c.select(
        F.concat(F.lit("E"), F.col("c_custkey")).alias("exposure_reference"),
        F.when(
            F.col("c_custkey") % 11 != 0,
            F.concat(F.lit("M"), F.col("c_custkey") % 6),
        ).alias("model_id"),
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", "retail")
        .when(F.col("c_mktsegment") == "MACHINERY", "institution")
        .when(F.col("c_mktsegment") == "FURNITURE", "specialised")
        .otherwise("corporate")
        .alias("exposure_class"),
        F.concat(F.lit("C"), F.col("c_nationkey") % 5).alias("country"),
        F.concat(F.lit("B"), F.col("c_custkey") % 4).alias("book_code"),
    )
    nk = F.col("n_nationkey")
    mp = n.select(
        F.concat(F.lit("M"), nk % 5).alias("model_id"),
        F.when((nk / 5).cast("int") % 3 == 0, "corporate")
        .when((nk / 5).cast("int") % 3 == 1, "retail")
        .otherwise("institution")
        .alias("exposure_class"),
        F.when(nk % 4 == 0, "AIRB")
        .when(nk % 4 == 1, "FIRB")
        .when(nk % 4 == 2, "SLOTTING")
        .otherwise("SA")
        .alias("approach"),
        F.when(nk % 2 == 0, "C0,C2,C4").alias("country_codes"),
        F.when(nk % 5 == 0, "B3").alias("excluded_book_codes"),
        F.when(nk % 4 == 3, "ppu").alias("ppu_reason"),
    )
    return resolve_model_permissions(exposures, mp).select(
        "exposure_reference",
        "model_airb_permitted",
        "model_firb_permitted",
        "model_slotting_permitted",
        "ppu_reason",
        "permission_diagnostic",
    )


_OFCP_ORACLE = """
WITH exp AS (
    SELECT 'E' || o_orderkey || 'A' AS exposure_reference,
           floor(o_totalprice * 0.6) AS ead, o_orderkey AS k
    FROM orders
    UNION ALL
    SELECT 'E' || o_orderkey || 'B', floor(o_totalprice * 0.4), o_orderkey
    FROM orders
), items AS (
    -- duplicate (l_orderkey, l_linenumber) pairs exist in the testdata:
    -- aggregate to one item per order deterministically
    SELECT 'I' || l_orderkey AS cref, l_orderkey AS k,
           CASE WHEN l_orderkey % 2 = 0
                THEN 'life_insurance' ELSE 'third_party_deposit' END AS channel,
           floor(min(l_extendedprice)) * 0.25 AS mv,
           CAST(1 + min(l_suppkey) % 6 AS INT) AS cqs,
           bool_or(l_returnflag = 'R') AS mm
    FROM lineitem WHERE l_linenumber = 1
    GROUP BY l_orderkey
), rated AS (
    SELECT *,
           CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.5
                WHEN 4 THEN 1.0 WHEN 5 THEN 1.0 ELSE 1.5 END AS inst_rw
    FROM items
), final_items AS (
    SELECT cref, k, channel,
           CASE WHEN channel = 'life_insurance'
                THEN mv * (1.0 - CASE WHEN mm THEN 0.08 ELSE 0.0 END)
                ELSE mv END AS val,
           CASE WHEN channel = 'life_insurance' THEN
                CASE inst_rw WHEN 0.2 THEN 0.2 WHEN 0.5 THEN 0.35
                     WHEN 1.0 THEN 0.7 ELSE 1.5 END
                ELSE inst_rw END AS item_rw
    FROM rated
), linked AS (
    SELECT e.exposure_reference, e.ead, i.cref, i.channel, i.val, i.item_rw,
           sum(CAST(floor(e.ead * 100.0 + 0.5) AS BIGINT))
               OVER (PARTITION BY i.cref) / 100.0 AS denom
    FROM final_items i JOIN exp e ON i.k = e.k
), alloc AS (
    SELECT exposure_reference, channel,
           val * (ead / denom) AS alloc_val, item_rw
    FROM linked
)
SELECT exposure_reference, channel,
       floor(sum(alloc_val) * 100.0 + 0.5) / 100.0 AS ofcp_value,
       round(sum(alloc_val * item_rw) / sum(alloc_val), 10) AS ofcp_rw
FROM alloc
GROUP BY exposure_reference, channel
"""


@query("crm_ofcp_substitution", oracle=_OFCP_ORACLE, tags=("engine", "crm"))
def crm_ofcp_substitution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Other-funded-credit-protection channels through the REAL engine
    helpers (engine/stages/crm.py _allocate_items + _join_issuer_rw; ref
    engine/crm/life_insurance.py, third_party_deposit.py): life-insurance
    surrender value (8% Hfx on currency mismatch, CRR Art.233(3)) maps
    the insurer's institution RW through the Art.232(3) secured-RW table;
    a third-party deposit substitutes the holder's institution RW
    (Art.232(2)). Each item pro-rates across two linked exposures by
    cents-exact EAD weights (kernels/allocation.py shape)."""
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.engine.stages.crm import (
        _allocate_items,
        _join_issuer_rw,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    exp = o.select(
        F.concat(F.lit("E"), F.col("o_orderkey"), F.lit("A")).alias(
            "exposure_reference"
        ),
        F.floor(F.col("o_totalprice") * 0.6).cast("double").alias("ead"),
        F.col("o_orderkey").alias("k"),
    ).unionByName(
        o.select(
            F.concat(F.lit("E"), F.col("o_orderkey"), F.lit("B")).alias(
                "exposure_reference"
            ),
            F.floor(F.col("o_totalprice") * 0.4).cast("double").alias("ead"),
            F.col("o_orderkey").alias("k"),
        )
    )
    # duplicate (l_orderkey, l_linenumber) pairs exist in the testdata:
    # aggregate to one item per order deterministically
    items = (
        li.where(F.col("l_linenumber") == 1)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(
            (F.floor(F.min("l_extendedprice")) * 0.25).alias("mv"),
            (1 + F.min("l_suppkey") % 6).cast("int").alias("cqs"),
            F.bool_or(F.col("l_returnflag") == "R").alias("mm"),
        )
        .select(
            F.concat(F.lit("I"), F.col("k")).alias("collateral_reference"),
            "k",
            F.when(F.col("k") % 2 == 0, "life_insurance")
            .otherwise("third_party_deposit")
            .alias("channel"),
            "mv",
            "cqs",
            "mm",
        )
    )
    items = _join_issuer_rw(
        items, CRR_PACK, F.lit("institution"), F.col("cqs"), "_inst_rw"
    )
    li_map = CRR_PACK.table_df(spark, "life_ins_rw_map").select(
        F.col("insurer_rw").alias("_lim_in"), F.col("secured_rw").alias("_lim_out")
    )
    items = items.join(
        F.broadcast(li_map), F.col("_inst_rw") == F.col("_lim_in"), "left"
    ).select(
        "collateral_reference",
        "k",
        "channel",
        F.when(
            F.col("channel") == "life_insurance",
            F.col("mv") * (1.0 - F.when(F.col("mm"), 0.08).otherwise(0.0)),
        )
        .otherwise(F.col("mv"))
        .alias("_val"),
        F.when(F.col("channel") == "life_insurance", F.col("_lim_out"))
        .otherwise(F.col("_inst_rw"))
        .alias("_item_rw"),
    )
    links = items.select("collateral_reference", "k").join(
        exp.select("exposure_reference", "k"), "k"
    ).select("collateral_reference", "exposure_reference")
    alloc = _allocate_items(
        exp.select("exposure_reference", "ead"),
        items.select("collateral_reference", "_val", "_item_rw"),
        links,
    )
    chan = links.join(
        items.select("collateral_reference", "channel"), "collateral_reference"
    ).select("exposure_reference", "channel")
    return alloc.join(chan, "exposure_reference").select(
        "exposure_reference",
        "channel",
        (F.floor(F.col("_ch_value") * 100.0 + 0.5).cast("double") / 100.0).alias(
            "ofcp_value"
        ),
        F.round("_ch_rw", 10).alias("ofcp_rw"),
    )


# ---------------------------------------------------------------------------
# Rulebook audit trail (ref rulebook/audit.py)
# ---------------------------------------------------------------------------

_AUDIT_SCHEMA = (
    "regime string, version string, kind string, name string, entry_key string, "
    "value double, value_text string, citation string, pack_hash string"
)


def _rulebook_audit_oracle() -> str:
    """Generated VALUES from the SAME pack data the Spark query emits.
    Numeric values are re-parsed by DuckDB from the at-rest Decimal TEXT
    (CAST('0.7619' AS DOUBLE)) — an independent cross-check that the
    pack's single Decimal->float boundary is the IEEE-correct rounding."""
    from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK

    def esc(s):
        return s.replace("'", "''")

    values = []
    for pack in (CRR_PACK, B31_PACK):
        for (regime, version, kind, name, key, value, vtext, cite, h) in pack.audit_rows():
            v = "CAST(NULL AS DOUBLE)" if value is None else f"CAST('{vtext}' AS DOUBLE)"
            values.append(
                f"('{regime}', '{version}', '{kind}', '{esc(name)}', '{esc(key)}', "
                f"{v}, '{esc(vtext)}', '{esc(cite)}', '{h}')"
            )
    body = ",\n        ".join(values)
    return f"""
    SELECT * FROM (VALUES
        {body}
    ) AS t(regime, version, kind, name, entry_key, value, value_text, citation, pack_hash)
    """


@query("rulebook_audit", oracle=_rulebook_audit_oracle(), tags=("engine", "rulebook"))
def rulebook_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regime-as-data audit trail (ref rulebook/audit.py, model.py):
    every regulatory value in both packs — scalars and table rows — as one
    provenance frame carrying the mandatory article citation and the pack
    content hash, so any reported figure traces to a published number under
    a content-addressed pack version. Value columns are derived from each
    table's schema (double columns are values, the rest key), mirroring the
    reference's fixed rule-shape vocabulary."""
    from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK

    rows = CRR_PACK.audit_rows() + B31_PACK.audit_rows()
    return spark.createDataFrame(rows, _AUDIT_SCHEMA)


# ---------------------------------------------------------------------------
# SA risk-weight ladder depth: covered bonds, RGLA, unrated institutions
# (ref engine/sa/{covered_bond,rgla,risk_weights}.py, CRR Art.129/115/121)
# ---------------------------------------------------------------------------

_INST_LADDER_SQL = """CASE coalesce({cqs}, 0)
    WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.5
    WHEN 4 THEN 1.0 WHEN 5 THEN 1.0 WHEN 6 THEN 1.5 ELSE 0.5 END"""

_CB_ORACLE = f"""
    WITH cps AS (
        SELECT c_custkey AS cp, CAST(c_custkey % 7 AS INTEGER) AS cqs FROM customer
    ), loans AS (
        SELECT o_orderkey AS k, o_custkey AS cp, o_totalprice AS ead,
               (o_orderkey % 3 = 0) AS is_cb,
               CAST(o_orderkey % 9 AS INTEGER) AS cb_cqs
        FROM orders
    ), j AS (
        SELECT l.*, c.cqs FROM loans l JOIN cps c ON l.cp = c.cp
    ), w AS (
        SELECT *,
               {_INST_LADDER_SQL.format(cqs='cqs')} AS inst_rw,
               CASE cb_cqs WHEN 1 THEN 0.1 WHEN 2 THEN 0.2 WHEN 3 THEN 0.2
                    WHEN 4 THEN 0.5 WHEN 5 THEN 0.5 WHEN 6 THEN 1.0 END AS cb_rated
        FROM j
    ), rwm AS (
        SELECT *,
               CASE WHEN is_cb AND cb_rated IS NOT NULL THEN cb_rated
                    WHEN is_cb THEN
                        CASE inst_rw WHEN 0.2 THEN 0.1 WHEN 0.5 THEN 0.2
                             WHEN 1.0 THEN 0.5 WHEN 1.5 THEN 1.0 ELSE 1.0 END
                    ELSE inst_rw END AS rw,
               CASE WHEN is_cb AND cb_rated IS NOT NULL THEN 'sa_covered_bond_rated'
                    WHEN is_cb THEN 'sa_covered_bond_unrated_derived'
                    ELSE 'sa_cqs_lookup' END AS rw_source
        FROM w
    )
    SELECT rw_source, rw AS risk_weight, count(*) AS n_exposures,
           {{ss_rwa}} AS total_rwa
    FROM rwm GROUP BY 1, 2
""".format(ss_rwa="sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)")


@query("sa_covered_bond_rw", oracle=_CB_ORACLE, tags=("engine", "sa"))
def sa_covered_bond_rw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.129 covered bonds through the REAL engine SA ladder (ref
    engine/sa/covered_bond.py): rated bonds price on the bond's own CQS
    (Art.129(4) Table 6A), unrated bonds derive from the issuing
    institution's senior unsecured weight through the Art.129(5)
    derivation table (regime-divergent pack data — the CRR arm maps a 50%
    issuer weight to 20% where PS1/26 maps it to 25%). Star mapping:
    every counterparty an institution (CQS = custkey % 7), every third
    order a covered bond, the bond's own CQS = orderkey % 9 (7, 8, 0 =
    unrated). Aggregated by rw_source × risk weight from the audit
    ledger."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("institution").alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        (F.col("o_orderkey") % 3 == 0).alias("is_covered_bond"),
        (F.col("o_orderkey") % 9).cast("int").alias("cb_cqs"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy("rw_source", "risk_weight").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


_RGLA_ORACLE = f"""
    WITH cps AS (
        SELECT c_custkey AS cp, CAST(c_custkey % 7 AS INTEGER) AS cqs,
               CAST(c_custkey % 8 AS INTEGER) AS sov_cqs,
               CASE WHEN c_custkey % 5 = 0 THEN 'GB' ELSE 'FR' END AS ctry,
               CASE c_mktsegment
                    WHEN 'BUILDING' THEN 'rgla_sovereign'
                    WHEN 'FURNITURE' THEN 'rgla'
                    WHEN 'HOUSEHOLD' THEN 'sovereign'
                    WHEN 'AUTOMOBILE' THEN 'institution'
                    ELSE 'corporate' END AS entity_type
        FROM customer
    ), j AS (
        SELECT o.o_totalprice AS ead, c.cqs, c.sov_cqs, c.entity_type,
               (c.ctry = 'GB' AND o.o_orderkey % 2 = 0) AS dom,
               CASE WHEN c.entity_type IN ('rgla_sovereign', 'sovereign')
                    THEN 'sovereign'
                    WHEN c.entity_type = 'rgla' THEN 'rgla'
                    WHEN c.entity_type = 'institution' THEN 'institution'
                    ELSE 'corporate' END AS exposure_class
        FROM orders o JOIN cps c ON o.o_custkey = c.cp
    ), w AS (
        SELECT *,
               CASE exposure_class
                    WHEN 'sovereign' THEN
                        CASE coalesce(cqs, 0) WHEN 1 THEN 0.0 WHEN 2 THEN 0.2
                             WHEN 3 THEN 0.5 WHEN 4 THEN 1.0 WHEN 5 THEN 1.0
                             WHEN 6 THEN 1.5 ELSE 1.0 END
                    WHEN 'institution' THEN {_INST_LADDER_SQL.format(cqs='cqs')}
                    -- Art.115(5) sterling-domestic 20% > (1)(a) Table 1A
                    -- sovereign-derived for unrated > (1)(b) Table 1B
                    WHEN 'rgla' THEN
                        CASE WHEN dom THEN 0.2
                             WHEN coalesce(cqs, 0) = 0 THEN
                                  CASE sov_cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
                                       WHEN 3 THEN 1.0 WHEN 4 THEN 1.0
                                       WHEN 5 THEN 1.0 WHEN 6 THEN 1.5
                                       ELSE 1.0 END
                             ELSE CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
                                  WHEN 3 THEN 0.5 WHEN 4 THEN 1.0
                                  WHEN 5 THEN 1.0 ELSE 1.5 END END
                    ELSE
                        CASE coalesce(cqs, 0) WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
                             WHEN 3 THEN 1.0 WHEN 4 THEN 1.0 WHEN 5 THEN 1.5
                             WHEN 6 THEN 1.5 ELSE 1.0 END
               END AS rw
        FROM j
    )
    SELECT exposure_class, rw AS risk_weight, count(*) AS n_exposures,
           sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_rwa
    FROM w GROUP BY 1, 2
"""


@query("sa_rgla_treatment", oracle=_RGLA_ORACLE, tags=("engine", "sa"))
def sa_rgla_treatment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.115 RGLA split through the REAL classifier + SA ladder (ref
    engine/sa/rgla.py): rgla_sovereign rows (Art.115(2)/(4) equivalence
    lists) are 'treated as exposures to the central government' — priced
    on the Art.114 CGCB ladder by the RGLA's own CQS, NOT pinned to 0%;
    every other RGLA (Art.115(1)) takes the institution treatment. Star
    mapping keys entity_type off c_mktsegment; corporate rows carry zero
    revenue so no SME factor perturbs the ladder."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    entity = (
        F.when(F.col("c_mktsegment") == "BUILDING", "rgla_sovereign")
        .when(F.col("c_mktsegment") == "FURNITURE", "rgla")
        .when(F.col("c_mktsegment") == "HOUSEHOLD", "sovereign")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "institution")
        .otherwise("corporate")
    )
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        entity.alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        # rgla-only carriers: a country/sovereign-CQS on the OTHER entity
        # types would trip the Art.114(4) EU-domestic and Art.121
        # sovereign-derived-institution paths this book does not test
        F.when(F.col("c_mktsegment") == "FURNITURE", F.col("c_custkey") % 8)
        .cast("int")
        .alias("sovereign_cqs"),
        F.when(
            F.col("c_mktsegment") == "FURNITURE",
            F.when(F.col("c_custkey") % 5 == 0, "GB").otherwise("FR"),
        ).alias("country"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.when(F.col("o_orderkey") % 2 == 0, "GBP").otherwise("EUR").alias("currency"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy("exposure_class", "risk_weight").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


_SOV_DERIVED_ORACLE = """
    WITH cps AS (
        SELECT c_custkey AS cp,
               CAST(CASE WHEN c_custkey % 2 = 0 THEN 0
                    ELSE (c_custkey % 6) + 1 END AS INTEGER) AS cqs,
               CAST(c_custkey % 8 AS INTEGER) AS sovereign_cqs
        FROM customer
    ), j AS (
        SELECT o.o_totalprice AS ead, c.cqs, c.sovereign_cqs
        FROM orders o JOIN cps c ON o.o_custkey = c.cp
    ), w AS (
        SELECT *,
               CASE WHEN cqs = 0 AND sovereign_cqs BETWEEN 1 AND 6 THEN
                    CASE sovereign_cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
                         WHEN 3 THEN 1.0 WHEN 4 THEN 1.0 WHEN 5 THEN 1.0
                         ELSE 1.5 END
                    ELSE
                    CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.5
                         WHEN 4 THEN 1.0 WHEN 5 THEN 1.0 WHEN 6 THEN 1.5
                         ELSE 0.5 END
               END AS rw,
               CASE WHEN cqs = 0 AND sovereign_cqs BETWEEN 1 AND 6
                    THEN 'sa_sovereign_derived' ELSE 'sa_cqs_lookup'
               END AS rw_source
        FROM j
    )
    SELECT rw_source, rw AS risk_weight, count(*) AS n_exposures,
           sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_rwa
    FROM w GROUP BY 1, 2
"""


@query(
    "sa_sovereign_derived_unrated",
    oracle=_SOV_DERIVED_ORACLE,
    tags=("engine", "sa"),
)
def sa_sovereign_derived_unrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.121 Table 5: an UNRATED institution's RW derives from its
    central government's credit step — a CRR-only Feature (Basel 3.1
    grades unrated institutions via SCRA instead; the B3.1 arm is engine-
    tested). Star mapping: even custkeys unrated (CQS 0) carrying
    sovereign_cqs = custkey % 8 (0 and 7 have no Table 5 row and fall
    back to the ordinary unrated-institution 50%)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("institution").alias("entity_type"),
        F.when(F.col("c_custkey") % 2 == 0, 0)
        .otherwise((F.col("c_custkey") % 6) + 1)
        .cast("int")
        .alias("cqs"),
        (F.col("c_custkey") % 8).cast("int").alias("sovereign_cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy("rw_source", "risk_weight").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


# ---------------------------------------------------------------------------
# IRB unfunded-protection treatment (ref engine/irb/guarantee.py,
# apply_guarantee_substitution — 902 LoC): SA RW substitution vs parameter
# substitution vs CRR Art.153(3) double default, Art.193(1) benefit gate,
# Art.161(3) EL blend. The Spark side runs the REAL engine operator
# (calculators.run_irb + _irb_guarantee_adjust) on a star-mapped CRM frame;
# the oracle re-derives every branch through the shared SQL kernel builders
# so both engines execute the identical expression trees.
#
# Mapping (shared): obligor PD = (1+ok%8)/100, LGD = 0.25+0.20·(ok%2),
# M = 2.5, EAD = o_totalprice, coverage g = (ok%4)/5; guarantor class/CQS
# from o_custkey (%3 / 1+%5), internal PD (1+ck%5)/1000 on even custkeys,
# subordinated seniority on ck%7==0, A-IRB routing on even orderkeys.
# Every kernel input is band-constant, so per-band min(rw) is exact and
# totals use the fixed-point scaled_sum.
# ---------------------------------------------------------------------------

def _irb_guarantee_cte() -> str:
    """The shared WITH-chain (base → s8) of the guarantee oracles: the full
    independent re-derivation of SA substitution / PD substitution / double
    default / the Art.193(1) benefit gate over the blend book."""
    from rwa_calculator_spark.functions.irb import (
        sql_capital_k_r,
        sql_correlation,
        sql_maturity_adj,
    )
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    sa_rw = """CASE g_class
        WHEN 'institution' THEN CASE g_cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
            WHEN 3 THEN 0.5 WHEN 4 THEN 1.0 ELSE 1.0 END
        WHEN 'corporate' THEN CASE g_cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
            WHEN 3 THEN 1.0 WHEN 4 THEN 1.0 ELSE 1.5 END
        ELSE CASE g_cqs WHEN 1 THEN 0.0 WHEN 2 THEN 0.2 WHEN 3 THEN 0.5
            WHEN 4 THEN 1.0 ELSE 1.0 END END"""
    return f"""
    WITH base AS (
        SELECT CAST(o_orderkey % 8 AS INTEGER) AS band_pd,
               greatest(coalesce(CAST(1 + o_orderkey % 8 AS DOUBLE) / 100.0, 1.0), 0.0003) AS pd_fl,
               (0.25 + CAST(o_orderkey % 2 AS DOUBLE) * 0.20) AS lgd,
               CAST(2.5 AS DOUBLE) AS m,
               o_totalprice AS ead,
               (CAST(o_orderkey % 4 AS DOUBLE) / 5.0) AS g,
               CASE CAST(o_custkey % 3 AS INTEGER) WHEN 0 THEN 'institution'
                    WHEN 1 THEN 'corporate' ELSE 'sovereign' END AS g_class,
               CAST(1 + o_custkey % 5 AS INTEGER) AS g_cqs,
               CASE WHEN o_custkey % 2 = 0
                    THEN CAST(1 + o_custkey % 5 AS DOUBLE) / 1000.0 END AS gpd,
               CASE WHEN o_custkey % 2 = 0 THEN CAST(1 + o_custkey % 5 AS INTEGER)
                    ELSE -1 END AS band_gpd,
               CASE WHEN o_custkey % 7 = 0 THEN 'subordinated' ELSE 'senior' END AS sen,
               CASE WHEN o_orderkey % 2 = 0 THEN 'airb' ELSE 'firb' END AS sub
        FROM orders
    ), s1 AS (
        SELECT *, {sql_acklam_raw('pd_fl')} AS x0_o,
               CASE WHEN gpd IS NOT NULL THEN greatest(gpd, 0.0003) END AS pd_g_fl,
               CASE sen WHEN 'subordinated' THEN 0.75 ELSE 0.45 END AS lgd_g
        FROM base
    ), s2 AS (
        SELECT *, {sql_halley_step('x0_o', 'pd_fl')} AS gpd_o,
               {sql_acklam_raw('pd_g_fl')} AS x0_g
        FROM s1
    ), s3 AS (
        SELECT *, {sql_halley_step('x0_g', 'pd_g_fl')} AS gpd_g,
               {sql_correlation('pd_fl')} AS r_o,
               {sql_correlation('pd_g_fl')} AS r_g
        FROM s2
    ), s4 AS (
        SELECT *, {sql_capital_k_r('pd_fl', 'lgd', 'gpd_o', 'r_o')} AS k_o,
               {sql_maturity_adj('pd_fl', 'm')} AS ma_o,
               {sql_capital_k_r('pd_g_fl', 'lgd_g', 'gpd_g', 'r_g')} AS k_g,
               {sql_maturity_adj('pd_g_fl', 'm')} AS ma_g
        FROM s3
    ), s5 AS (
        SELECT *, (((k_o * ma_o) * 12.5) * 1.06) AS rw_own,
               CASE WHEN gpd IS NOT NULL THEN (((k_g * ma_g) * 12.5) * 1.06)
                    ELSE ({sa_rw}) END AS grw0,
               ((g_class IN ('institution', 'sovereign')
                 OR (g_class = 'corporate' AND g_cqs <= 2))
                AND gpd IS NOT NULL AND sub = 'airb' AND g > 0) AS dd_elig
        FROM s4
    ), s6 AS (
        SELECT *, (rw_own * (0.15 + (160.0 * pd_g_fl))) AS rw_dd,
               (dd_elig AND (rw_own * (0.15 + (160.0 * pd_g_fl)))
                    < coalesce(grw0, CAST('infinity' AS DOUBLE))) AS dd_applies
        FROM s5
    ), s7 AS (
        SELECT *, CASE WHEN dd_applies THEN rw_dd ELSE grw0 END AS grw,
               CASE WHEN dd_applies THEN 'dd'
                    WHEN gpd IS NOT NULL THEN 'sub_pd'
                    ELSE 'sub_sa' END AS method
        FROM s6
    ), s8 AS (
        SELECT *, (g > 0 AND grw IS NOT NULL AND grw < rw_own) AS ben,
               ((pd_fl * lgd) * ead) AS el_own
        FROM s7
    )
    """


def _irb_guarantee_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum

    return _irb_guarantee_cte() + f"""
    , s9 AS (
        SELECT band_pd, g_class, g_cqs, band_gpd, sen, ead,
               CASE WHEN ben THEN (((1.0 - g) * rw_own) + (g * grw))
                    ELSE rw_own END AS rw_final,
               CASE WHEN ben AND method = 'dd' THEN el_own
                    WHEN ben AND method = 'sub_pd'
                        THEN (((1.0 - g) * el_own) + (((pd_g_fl * lgd_g) * g) * ead))
                    WHEN ben THEN ((1.0 - g) * el_own)
                    ELSE el_own END AS el,
               'irb_vasicek_' || sub || CASE WHEN ben THEN '+g' || method
                    ELSE '' END AS src
        FROM s8
    )
    SELECT band_pd, g_class, g_cqs, band_gpd, sen,
           count(*) AS n_rows,
           round(min(rw_final), 8) AS rw,
           round(min(rw_final) * ({sql_scaled_sum('ead', 2)}), 2) AS rwa,
           round(min(el / ead) * ({sql_scaled_sum('ead', 2)}), 2) AS el_amt,
           min(src) AS src
    FROM s9
    GROUP BY 1, 2, 3, 4, 5
    """


@query("irb_guarantee_blend", oracle=_irb_guarantee_oracle(), tags=("engine", "irb", "tolerant"))
def irb_guarantee_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IRB unfunded protection through the REAL engine calculator (ref
    engine/irb/guarantee.py): SA-guarantor RW substitution (Art.235),
    IRB-guarantor parameter substitution with the Art.161(1) supervisory
    LGD, CRR Art.153(3) double default (A-IRB + eligible guarantor,
    taken when beneficial), Art.193(1) decline-not-cap gate, and the
    Art.161(3) EL blend — aggregated per input band."""
    from rwa_calculator_spark.engine.bundles import CRMOutput
    from rwa_calculator_spark.engine.stages.calculators import run_irb
    from rwa_calculator_spark.functions.exact import scaled_sum

    exp = _irb_guarantee_book(spark, sf_dir)
    keys = exp.select(
        "exposure_reference", "band_pd", "g_class", "g_cqs", "band_gpd",
        F.col("guarantor_seniority").alias("sen"),
    )
    # the round-4 ledger carries g_class as an audit column — drop the
    # ledger copy and group on the banding frame's own carrier
    res = run_irb(CRMOutput(exposures=exp.drop("band_pd", "band_gpd")), CRR_PACK).results
    r = res.drop("g_class").join(keys, "exposure_reference")
    return r.groupBy("band_pd", "g_class", "g_cqs", "band_gpd", "sen").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("risk_weight"), 8).alias("rw"),
        F.round(F.min("risk_weight") * scaled_sum(F.col("ead_after_crm"), 2), 2).alias("rwa"),
        F.round(
            F.min(F.col("expected_loss") / F.col("ead_after_crm"))
            * scaled_sum(F.col("ead_after_crm"), 2),
            2,
        ).alias("el_amt"),
        F.min("rw_source").alias("src"),
    )


def _irb_guarantee_book(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared guarantee/double-default synthetic book (blend + DD
    carrier queries; oracle twin in _irb_guarantee_cte)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("exposure_class"),
        (F.col("o_custkey") % 7).cast("int").alias("cqs"),
        F.lit(True).alias("has_irb_permission"),
        F.lit(False).alias("is_specialised"),
        F.lit(False).alias("is_defaulted"),
        ((1 + F.col("o_orderkey") % 8).cast("double") / F.lit(100.0)).alias("pd"),
        (F.lit(0.25) + (F.col("o_orderkey") % 2).cast("double") * F.lit(0.20)).alias("lgd"),
        F.lit(2.5).alias("effective_maturity"),
        F.lit(200_000_000.0).alias("annual_revenue"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(0.0).alias("undrawn_amount"),
        F.col("o_totalprice").alias("ead"),
        F.col("o_totalprice").alias("ead_after_crm"),
        ((F.col("o_orderkey") % 4).cast("double") / F.lit(5.0)).alias("g_coverage"),
        F.when(F.col("o_custkey") % 3 == 0, "institution")
        .when(F.col("o_custkey") % 3 == 1, "corporate")
        .otherwise("sovereign")
        .alias("g_class"),
        (1 + F.col("o_custkey") % 5).cast("int").alias("g_cqs"),
        F.when(
            F.col("o_custkey") % 2 == 0,
            (1 + F.col("o_custkey") % 5).cast("double") / F.lit(1000.0),
        ).alias("guarantor_pd"),
        F.when(F.col("o_custkey") % 7 == 0, "subordinated")
        .otherwise("senior")
        .alias("guarantor_seniority"),
        F.when(F.col("o_orderkey") % 2 == 0, "airb").otherwise("firb").alias("irb_subapproach"),
        (F.col("o_orderkey") % 8).cast("int").alias("band_pd"),
        F.when(F.col("o_custkey") % 2 == 0, (1 + F.col("o_custkey") % 5))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("band_gpd"),
    )


def _irb_dd_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum

    applied = "(ben AND method = 'dd')"
    return _irb_guarantee_cte() + f"""
    SELECT ((g_class IN ('institution', 'sovereign')
             OR (g_class = 'corporate' AND g_cqs <= 2))
            AND gpd IS NOT NULL AND sub = 'airb' AND g > 0) AS dd_eligible,
           {applied} AS dd_applied,
           g_class,
           count(*) AS n_rows,
           {sql_scaled_sum(f"CASE WHEN {applied} THEN g * ead ELSE 0.0 END", 2)}
               AS protected_0220,
           {sql_scaled_sum(f"CASE WHEN {applied} THEN lgd * ead ELSE 0.0 END", 2)}
               AS lgd_dd_wsum
    FROM s8
    GROUP BY 1, 2, 3
    """


@query(
    "irb_double_default_ledger",
    oracle=_irb_dd_oracle(),
    tags=("engine", "irb", "tolerant"),
)
def irb_double_default_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.153(3)/202-203 double-default AUDIT CARRIERS, sealed by the
    real IRB calculator (ref CALCULATION_OUTPUT_SCHEMA
    is_double_default_eligible / double_default_unfunded_protection /
    irb_lgd_double_default, data/schemas.py:3098-3100): the Art.202
    eligibility gate outcome; the guaranteed portion (coverage × EAD — the
    COREP C 08.01 col 0220 figure) sealed only where DD actually PRICED the
    row (the Art.193(1) benefit test passed and the DD K beat
    substitution); and the LGD the DD formula used (the obligor's own — DD
    modifies K through PD_g, never LGD). Grouped by (eligibility, applied,
    guarantor class) so every carrier combination foots against the
    oracle's independent re-derivation."""
    from rwa_calculator_spark.engine.bundles import CRMOutput
    from rwa_calculator_spark.engine.stages.calculators import run_irb
    from rwa_calculator_spark.functions.exact import scaled_sum

    exp = _irb_guarantee_book(spark, sf_dir)
    res = run_irb(CRMOutput(exposures=exp.drop("band_pd", "band_gpd")), CRR_PACK).results
    return res.groupBy(
        F.col("is_double_default_eligible").alias("dd_eligible"),
        F.col("double_default_unfunded_protection").isNotNull().alias("dd_applied"),
        F.col("g_class"),
    ).agg(
        F.count("*").alias("n_rows"),
        scaled_sum(
            F.coalesce(F.col("double_default_unfunded_protection"), F.lit(0.0)), 2
        ).alias("protected_0220"),
        scaled_sum(
            F.coalesce(F.col("irb_lgd_double_default"), F.lit(0.0))
            * F.col("ead_after_crm"),
            2,
        ).alias("lgd_dd_wsum"),
    )


# ---------------------------------------------------------------------------
# B3.1 post-base SA adjustments (ref engine/sa/rw_adjustments.py): PS1/26
# Art.123B currency-mismatch ×1.5 multiplier (150% cap, hedge waivers with
# the Art.123B(2A) revolving rescale) and the Art.110A increase-only
# due-diligence override — run through the REAL B3.1 pipeline.
# ---------------------------------------------------------------------------

_B31_ADJ_ORACLE = """
    WITH cps AS (
        SELECT c_custkey AS cp, CAST(c_custkey % 7 AS INTEGER) AS cqs,
               (c_custkey % 2 = 0) AS is_retail_cp
        FROM customer
    ), loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS drawn,
               CASE CAST(o_orderkey % 3 AS INTEGER) WHEN 0 THEN 'GBP'
                    WHEN 1 THEN 'USD' ELSE 'EUR' END AS ccy,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    WHEN o_orderkey % 2 = 0 THEN 'GBP' ELSE 'JPY' END AS bic,
               (o_orderkey % 7 = 0) AS is_hedged,
               CAST(o_orderkey % 11 AS DOUBLE) / 10.0 AS cov,
               (o_orderkey % 2 = 0) AS revolving,
               o_totalprice * 2.0 AS fac_limit,
               CASE WHEN o_custkey % 13 = 0 THEN 1.2 END AS ddq_rw
        FROM orders
    ), grp AS (
        SELECT l.*, c.cqs, c.is_retail_cp,
               sum(CAST(round(l.drawn * 100.0, 0) AS BIGINT))
                   OVER (PARTITION BY l.cp) / CAST(100 AS DOUBLE) AS grp_total
        FROM loans l JOIN cps c ON l.cp = c.cp
    ), base AS (
        SELECT *,
               (is_retail_cp AND grp_total <= 1000000.0) AS is_retail
        FROM grp
    ), rw0 AS (
        SELECT *,
               CASE WHEN is_retail THEN 0.75 ELSE
                    CASE coalesce(cqs, 0) WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
                         WHEN 3 THEN 0.75 WHEN 4 THEN 1.0 WHEN 5 THEN 1.5
                         WHEN 6 THEN 1.5 ELSE 1.0 END END AS rw_base,
               CASE WHEN is_retail THEN 'sa_retail'
                    ELSE 'sa_cqs_lookup' END AS src0
        FROM base
    ), mm AS (
        SELECT *,
               (is_retail AND bic IS NOT NULL AND bic <> ccy
                AND NOT (is_hedged OR
                    (CASE WHEN revolving AND greatest(drawn, fac_limit) > 0
                          THEN (cov * drawn) / greatest(drawn, fac_limit)
                          ELSE cov END) >= 0.9)) AS ccymm
        FROM rw0
    ), rw1 AS (
        SELECT *,
               CASE WHEN ccymm THEN least(rw_base * 1.5, 1.5)
                    ELSE rw_base END AS rw_mm,
               src0 || CASE WHEN ccymm THEN '+ccymm' ELSE '' END AS src1
        FROM mm
    ), rw2 AS (
        SELECT *,
               CASE WHEN ddq_rw IS NOT NULL AND ddq_rw > rw_mm
                    THEN ddq_rw ELSE rw_mm END AS rw,
               src1 || CASE WHEN ddq_rw IS NOT NULL AND ddq_rw > rw_mm
                    THEN '+ddq' ELSE '' END AS rw_source
        FROM rw1
    )
    SELECT rw_source, rw AS risk_weight, count(*) AS n_exposures,
           sum(CAST(round((drawn * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM rw2 GROUP BY 1, 2
"""


@query("sa_b31_rw_adjustments", oracle=_B31_ADJ_ORACLE, tags=("engine", "sa"))
def sa_b31_rw_adjustments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PS1/26 Art.123B currency-mismatch multiplier + Art.110A due-diligence
    override through the REAL B3.1 pipeline (ref engine/sa/rw_adjustments.py):
    retail rows with an income-currency mismatch take ×1.5 capped at 150%
    unless hedged (flag, or ≥90% effective coverage — revolving rows rescale
    the firm-supplied ratio onto the fully-drawn base, halving it here);
    the due-diligence override then lifts any weight it exceeds, stacking
    its +ddq tag after +ccymm. Aggregated by rw_source × risk weight."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 2 == 0, "individual")
        .otherwise("corporate")
        .alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        (F.col("c_custkey") % 2 == 0).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        F.when(F.col("o_orderkey") % 3 == 0, "GBP")
        .when(F.col("o_orderkey") % 3 == 1, "USD")
        .otherwise("EUR")
        .alias("currency"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("string"))
        .when(F.col("o_orderkey") % 2 == 0, "GBP")
        .otherwise("JPY")
        .alias("borrower_income_currency"),
        (F.col("o_orderkey") % 7 == 0).alias("is_hedged"),
        ((F.col("o_orderkey") % 11).cast("double") / F.lit(10.0)).alias(
            "hedge_coverage_ratio"
        ),
        (F.col("o_orderkey") % 2 == 0).alias("is_revolving"),
        (F.col("o_totalprice") * F.lit(2.0)).alias("facility_limit"),
        F.when(F.col("o_custkey") % 13 == 0, F.lit(1.2)).alias(
            "due_diligence_override_rw"
        ),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=B31_PACK),
    )
    return out.results.groupBy("rw_source", "risk_weight").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


# ---------------------------------------------------------------------------
# CRR Art.155(3)/165 PD/LGD equity approach (ref engine/equity/calculator.py
# _apply_equity_weights_pd_lgd) through the REAL engine calculator, oracled
# via the shared Φ kernel builders.
# ---------------------------------------------------------------------------

def _equity_pd_lgd_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum
    from rwa_calculator_spark.functions.irb import (
        sql_capital_k_r,
        sql_correlation,
        sql_maturity_adj,
    )
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    return f"""
    WITH eq AS (
        SELECT c_custkey AS ck,
               (CAST(c_custkey % 100 AS DOUBLE) + 1.0) * 1000.0 AS mv,
               (c_custkey % 2 = 0) AS elect,
               (c_custkey % 3 = 0) AS listed,
               (c_custkey % 5 = 0) AS pe_div,
               (c_custkey % 7 = 0) AS has_dd
        FROM customer
    ), params AS (
        SELECT *, CAST(CASE WHEN listed THEN 0.004 ELSE 0.0125 END AS DOUBLE) AS pd_eq,
               CAST(CASE WHEN pe_div THEN 0.65 ELSE 0.9 END AS DOUBLE) AS lgd_eq,
               CAST(5.0 AS DOUBLE) AS m_eq
        FROM eq WHERE elect
    ), s1 AS (
        SELECT *, {sql_acklam_raw('pd_eq')} AS x0 FROM params
    ), s2 AS (
        SELECT *, {sql_halley_step('x0', 'pd_eq')} AS g_eq,
               {sql_correlation('pd_eq')} AS r_eq
        FROM s1
    ), s3 AS (
        SELECT *, {sql_capital_k_r('pd_eq', 'lgd_eq', 'g_eq', 'r_eq')} AS k_eq,
               {sql_maturity_adj('pd_eq', 'm_eq')} AS ma_eq
        FROM s2
    ), pdlgd AS (
        SELECT listed, pe_div, has_dd, mv,
               ((((k_eq * ma_eq) * 12.5) * 1.06)
                * (CASE WHEN has_dd THEN 1.0 ELSE 1.5 END)) AS rw,
               ((pd_eq * lgd_eq) * mv) AS el
        FROM s3
    ), pdlgd_rows AS (
        SELECT 'equity_pd_lgd' AS rw_source, listed, pe_div, has_dd, mv, rw, el,
               least(rw * mv, greatest((mv * 12.5) - (el * 12.5), 0.0)) AS rwa
        FROM pdlgd
    ), simple_rows AS (
        SELECT 'equity_irb_simple' AS rw_source, listed, pe_div, has_dd, mv,
               CASE WHEN pe_div THEN 1.9 WHEN listed THEN 2.9 ELSE 3.7 END AS rw,
               mv * (CASE WHEN pe_div OR listed THEN 0.008 ELSE 0.024 END) AS el,
               mv * (CASE WHEN pe_div THEN 1.9 WHEN listed THEN 2.9
                          ELSE 3.7 END) AS rwa
        FROM eq WHERE NOT elect
    ), unioned AS (
        SELECT * FROM pdlgd_rows UNION ALL SELECT * FROM simple_rows
    )
    SELECT rw_source, listed, pe_div, has_dd,
           count(*) AS n_holdings,
           round(min(rw), 10) AS rw,
           {sql_scaled_sum('mv', 2)} AS ead,
           {sql_scaled_sum('rwa', 2)} AS rwea,
           {sql_scaled_sum('el', 2)} AS el_amt
    FROM unioned GROUP BY 1, 2, 3, 4
    """


@query("equity_pd_lgd", oracle=_equity_pd_lgd_oracle(), tags=("engine", "equity", "tolerant"))
def equity_pd_lgd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.155(3)/165 PD/LGD equity through the REAL engine calculator:
    per-row election routes holdings between the Vasicek kernel at the
    Art.165 supervisory parameters (PD floor 0.40%/1.25%, LGD 65%/90%,
    M=5, ×1.5 no-default-data scaling, Art.155(3) cap) and the Art.155(2)
    simple-RW buckets — aggregated per (method, flag) band."""
    from rwa_calculator_spark.engine.rulepack import CRR_PACK as _CRR
    from rwa_calculator_spark.engine.stages.calculators import run_equity
    from rwa_calculator_spark.functions.exact import scaled_sum

    c = load_table(spark, sf_dir, "customer")
    eq = c.select(
        F.concat(F.lit("E"), F.col("c_custkey")).alias("exposure_reference"),
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        (((F.col("c_custkey") % 100).cast("double")) + F.lit(1.0)).alias("_b"),
        (F.col("c_custkey") % 2 == 0).alias("use_pd_lgd"),
        (F.col("c_custkey") % 3 == 0).alias("is_exchange_traded"),
        (F.col("c_custkey") % 5 == 0).alias("is_diversified_pe"),
        (F.col("c_custkey") % 7 == 0).alias("has_default_definition_info"),
    ).withColumn("market_value", F.col("_b") * F.lit(1000.0)).drop("_b")
    res = run_equity(eq, _CRR).results
    keys = eq.select(
        "exposure_reference",
        F.col("is_exchange_traded").alias("listed"),
        F.col("is_diversified_pe").alias("pe_div"),
        F.col("has_default_definition_info").alias("has_dd"),
    )
    r = res.join(keys, "exposure_reference")
    return r.groupBy("rw_source", "listed", "pe_div", "has_dd").agg(
        F.count("*").alias("n_holdings"),
        F.round(F.min("risk_weight"), 10).alias("rw"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead"),
        scaled_sum(F.col("rwa"), 2).alias("rwea"),
        scaled_sum(F.col("expected_loss"), 2).alias("el_amt"),
    )


# ---------------------------------------------------------------------------
# CCF refinement depth (ref engine/ccf.py, 884 LoC): CRR Art.166(8)/(10)
# F-IRB CCFs + the Annex I original-maturity OC split, through the REAL
# pipeline CRM stage.
# ---------------------------------------------------------------------------

_CCF_FIRB_ORACLE = """
    WITH cps AS (
        SELECT c_custkey AS ck, (c_custkey % 3 = 0) AS irb FROM customer
    ), conts AS (
        SELECT o_orderkey AS ok, o_custkey AS ck, o_totalprice AS nominal,
               CASE CAST(o_orderkey % 4 AS INTEGER) WHEN 0 THEN 'full_risk'
                    WHEN 1 THEN 'medium_risk' WHEN 2 THEN 'medium_low_risk'
                    ELSE 'low_risk' END AS bucket,
               (o_orderkey % 5 <> 0) AS commitment,
               (o_orderkey % 7 = 0) AS trade_lc,
               CAST(CASE CAST(o_orderkey % 3 AS INTEGER) WHEN 0 THEN 0.5
                    WHEN 1 THEN 2.0 END AS DOUBLE) AS om_years
        FROM orders
    ), j AS (
        SELECT c.*, p.irb FROM conts c JOIN cps p ON c.ck = p.ck
    ), ccfd AS (
        SELECT *,
               CAST(CASE WHEN irb THEN
                    CASE WHEN bucket = 'medium_low_risk' AND trade_lc THEN 0.2
                         WHEN commitment AND bucket IN ('medium_risk', 'medium_low_risk')
                              THEN 0.75
                         WHEN bucket = 'full_risk' THEN 1.0
                         WHEN bucket = 'medium_risk' THEN 0.5
                         WHEN bucket = 'medium_low_risk' THEN 0.2
                         ELSE 0.0 END
               ELSE
                    CASE WHEN bucket = 'medium_risk' AND om_years IS NOT NULL
                              AND om_years * 365.0 <= 365.0 THEN 0.2
                         WHEN bucket = 'full_risk' THEN 1.0
                         WHEN bucket = 'medium_risk' THEN 0.5
                         WHEN bucket = 'medium_low_risk' THEN 0.2
                         ELSE 0.0 END
               END AS DOUBLE) AS ccf
        FROM j
    )
    SELECT CASE WHEN irb THEN 'IRB' ELSE 'SA' END AS approach, ccf,
           count(*) AS n_exposures,
           sum(CAST(round((ccf * nominal) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_ead
    FROM ccfd GROUP BY 1, 2
"""


@query("ccf_firb_routing", oracle=_CCF_FIRB_ORACLE, tags=("engine", "ccf"))
def ccf_firb_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR F-IRB CCFs + Annex I original-maturity OC split through the REAL
    CRM stage (ref engine/ccf.py): IRB-routed off-balance rows take the
    Art.166(8) bespoke ladder (75% commitments, 20% trade-LC carve-out,
    Art.166(10) issued fallback); SA "other commitments" drop from 50% to
    20% at ≤ 1 year original maturity. Grouped by approach × effective CCF
    with exact EAD totals off the audit ledger."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        (F.col("c_custkey") % 3 == 0).alias("has_irb_permission"),
    )
    loans = o.where(F.lit(False)).select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    conts = o.select(
        F.concat(F.lit("K"), F.col("o_orderkey")).alias("contingent_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("nominal_amount"),
        F.when(F.col("o_orderkey") % 4 == 0, "full_risk")
        .when(F.col("o_orderkey") % 4 == 1, "medium_risk")
        .when(F.col("o_orderkey") % 4 == 2, "medium_low_risk")
        .otherwise("low_risk")
        .alias("risk_bucket"),
        F.lit(False).alias("is_defaulted"),
        F.lit(0.01).alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        (F.col("o_orderkey") % 5 != 0).alias("is_obs_commitment"),
        (F.col("o_orderkey") % 7 == 0).alias("is_short_term_trade_lc"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(0.5))
        .when(F.col("o_orderkey") % 3 == 1, F.lit(2.0))
        .alias("original_maturity_years"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, contingents=conts),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy("approach", "ccf").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead"), 2).alias("total_ead"),
    )


# ---------------------------------------------------------------------------
# B3.1 revised real-estate treatment (ref engine/sa/b31_risk_weight_tables.py
# + rulebook/packs/b31.py:1249-1308): income-producing RE prices whole-loan
# off the PS1/26 Art.124G Table 6B / Art.124I LTV bands (junior income-RRE
# ×1.25 above 50% LTV); general RE loan-splits — secured up to 55% of value
# at 20% (RRE) / 60% (CRE), remainder as an exposure to the counterparty.
# ---------------------------------------------------------------------------

_B31_RE_ORACLE = """
    WITH cps AS (
        SELECT c_custkey AS cp, CAST(c_custkey % 7 AS INTEGER) AS cqs,
               (c_custkey % 2 = 0) AS is_person,
               CAST(c_custkey % 6 AS INTEGER) AS prop_count
        FROM customer
    ), loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS drawn,
               0.35 + CAST(o_orderkey % 17 AS DOUBLE) * 0.05 AS ltv,
               (o_orderkey % 3 = 0) AS explicit_income,
               (o_orderkey % 4 = 0) AS commercial,
               CAST(CASE WHEN o_orderkey % 13 = 0 THEN 0.08
                         WHEN o_orderkey % 5 = 0 THEN 0.10
                         ELSE 0.0 END AS DOUBLE) AS prior_chg,
               (o_orderkey % 5 = 0 OR o_orderkey % 13 = 0) AS junior,
               (o_orderkey % 7 = 0) AS adc,
               (o_orderkey % 2 = 0) AS presold,
               (o_orderkey % 11 = 0) AS other_re,
               (o_orderkey % 29 = 0) AS is_defaulted
        FROM orders
    ), j AS (
        SELECT l.*, c.cqs, c.is_person,
               (l.explicit_income OR (c.is_person AND c.prop_count > 3))
                   AS income,
               CASE WHEN c.is_person THEN 0.75
                    ELSE CASE coalesce(c.cqs, 0)
                         WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.75
                         WHEN 4 THEN 1.0 WHEN 5 THEN 1.5 WHEN 6 THEN 1.5
                         ELSE 1.0 END END AS cp_rw
        FROM loans l JOIN cps c ON l.cp = c.cp
    ), shares AS (
        SELECT *,
               least(greatest(0.0, 0.55 - prior_chg) / ltv, 1.0)
                   AS secured_share,
               CASE WHEN ltv <= 0.80 THEN 1.00 ELSE 1.10 END
                   AS cre_income_base
        FROM j
    ), priced AS (
        SELECT *,
               CASE
                 -- PS1/26 Art.127(3): general (non-income) resi RE defaults
                 -- stay flat 100%; income/commercial/ADC/other-RE defaults
                 -- take the Art.127(1) provision test (no provisions in
                 -- this book -> 150%)
                 WHEN is_defaulted AND NOT commercial AND NOT explicit_income
                      AND NOT adc AND NOT other_re THEN 1.0
                 WHEN is_defaulted THEN 1.5
                 WHEN adc AND NOT commercial AND presold THEN 1.00
                 WHEN adc THEN 1.50
                 WHEN other_re AND income THEN 1.50
                 WHEN other_re AND commercial THEN greatest(0.60, cp_rw)
                 WHEN other_re THEN cp_rw
                 WHEN income AND commercial THEN
                      CASE WHEN junior THEN
                           CASE WHEN ltv <= 0.60 THEN 1.00
                                WHEN ltv <= 0.80 THEN 1.25
                                ELSE 1.375 END
                      ELSE cre_income_base END
                 WHEN income THEN
                      (CASE WHEN ltv <= 0.50 THEN 0.30 WHEN ltv <= 0.60 THEN 0.35
                            WHEN ltv <= 0.70 THEN 0.40 WHEN ltv <= 0.80 THEN 0.50
                            WHEN ltv <= 0.90 THEN 0.60 WHEN ltv <= 1.00 THEN 0.75
                            ELSE 1.05 END)
                      * (CASE WHEN junior AND ltv > 0.50 THEN 1.25 ELSE 1.0 END)
                 WHEN commercial AND NOT is_person THEN
                      greatest(0.60, least(cp_rw, cre_income_base))
                 ELSE
                      (CASE WHEN commercial THEN 0.60 ELSE 0.20 END)
                          * secured_share
                      + cp_rw * (1.0 - secured_share)
               END AS rw,
               CASE
                 WHEN is_defaulted AND NOT commercial AND NOT explicit_income
                      AND NOT adc AND NOT other_re THEN 'sa_defaulted_secured'
                 WHEN is_defaulted THEN 'sa_defaulted'
                 WHEN adc AND NOT commercial AND presold THEN 'b31_adc_presold'
                 WHEN adc THEN 'b31_adc'
                 WHEN other_re AND income THEN 'b31_other_re_income'
                 WHEN other_re AND commercial THEN 'b31_other_re_cre'
                 WHEN other_re THEN 'b31_other_re_resi'
                 WHEN income AND commercial THEN 'b31_cre_income_ltv'
                 WHEN explicit_income THEN 'b31_rre_income_ltv'
                 WHEN income THEN 'b31_rre_three_property'
                 WHEN commercial AND NOT is_person THEN 'b31_cre_art124h3'
                 WHEN commercial THEN 'b31_cre_loan_split'
                 ELSE 'b31_rre_loan_split'
               END AS rw_source
        FROM shares
    )
    SELECT rw_source, count(*) AS n_exposures,
           sum(CAST(round(drawn * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((drawn * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM priced GROUP BY 1
"""


@query("sa_b31_re_ltv", oracle=_B31_RE_ORACLE, tags=("engine", "sa", "rwa"))
def sa_b31_re_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PS1/26 Art.124E-124I revised real-estate treatment through the REAL
    B3.1 pipeline (ref engine/sa/b31_risk_weight_tables.py + packs/
    b31.py:1283-1308): property-secured loans route to the RE class via
    the loader-declared carrier (CLS_PROPERTY_SECURED); income-producing
    rows price WHOLE-LOAN off the Art.124G Table 6B / Art.124I LTV bands
    with the Art.124G(2) junior ×1.25 above 50% LTV and the Art.124I(3)
    junior income-CRE ABSOLUTE weights (1.00/1.25/1.375 replacing the base
    bands); natural persons financing more than three residential
    properties re-route to the income track (Art.124E(1)(b)/(2), distinct
    `b31_rre_three_property` audit leg); general rows loan-split — secured
    up to the Art.124F(2) prior-charge-reduced 55% of property value at
    20% RRE / 60% CRE, remainder at the counterparty's own weight (retail
    75% for persons, the corporate CQS ladder otherwise) — EXCEPT general
    CRE to non-person/non-retail-SME counterparties, which takes the
    Art.124H(3) max(60%, min(cp RW, Art.124I base)) so large corporates
    cannot reach the split; Art.124K ADC rows take 150% flat
    with the 100% residential pre-sold concession (no CRE concession);
    Art.124J non-qualifying "other" RE prices income-dependent 150% flat,
    non-dependent RESI at the counterparty weight with no floor, and
    non-dependent CRE at max(60%, counterparty weight);
    defaulted RE keeps the secured 100%. The bands compile to a when-chain from pack rows — band-count
    work, no join against the fact table. Aggregated by rw_source."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 2 == 0, "individual")
        .otherwise("corporate")
        .alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        (F.col("c_custkey") % 2 == 0).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
        (F.col("c_custkey") % 6).cast("int").alias("qualifying_property_count"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        (F.col("o_orderkey") % 29 == 0).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        F.lit(True).alias("is_property_secured"),
        (F.lit(0.35) + (F.col("o_orderkey") % 17).cast("double") * F.lit(0.05)).alias(
            "ltv"
        ),
        (F.col("o_orderkey") % 3 == 0).alias("is_income_producing"),
        (F.col("o_orderkey") % 4 == 0).alias("is_commercial_re"),
        (F.col("o_orderkey") % 5 == 0).alias("is_junior_lien"),
        (F.col("o_orderkey") % 7 == 0).alias("is_adc"),
        (F.col("o_orderkey") % 2 == 0).alias("is_presold"),
        (F.col("o_orderkey") % 11 == 0).alias("is_other_re"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(0.08))
        .when(F.col("o_orderkey") % 5 == 0, F.lit(0.10))
        .otherwise(F.lit(0.0))
        .alias("prior_charge_ltv"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=B31_PACK),
    )
    return out.results.groupBy("rw_source").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


# ---------------------------------------------------------------------------
# B3.1 SA specialised lending (PS1/26 Art.122A-122B; ref
# engine/sa/risk_weights.py:1188-1196 + b31_risk_weight_tables.py:716-747
# b31_sa_sl_rw_expr + packs/b31.py:1307-1318): UNRATED SL takes type-specific
# weights (object/commodities 100%, project 130% pre-operational / 100%
# operational / 80% high-quality); rated SL keeps the Art.122A(3) corporate
# CQS weight — EXCEPT Art.139(2B): a rating that is not issue-specific is
# disapplied for this routing, re-routing the row through the unrated table.
# ---------------------------------------------------------------------------

_B31_SA_SL_ORACLE = """
    WITH cps AS (
        SELECT c_custkey AS cp, CAST(c_custkey % 7 AS INTEGER) AS cqs,
               (c_custkey % 5 <> 0) AS issue_specific,
               CASE CAST(c_custkey % 4 AS INTEGER)
                    WHEN 0 THEN 'object_finance'
                    WHEN 1 THEN 'commodities_finance'
                    WHEN 2 THEN 'project_finance' END AS sl_type,
               CASE CAST(c_custkey % 3 AS INTEGER)
                    WHEN 0 THEN 'pre_operational'
                    WHEN 1 THEN 'operational'
                    ELSE 'high_quality_operational' END AS phase
        FROM customer
    ), j AS (
        SELECT o.o_totalprice AS ead, c.*
        FROM orders o JOIN cps c ON o.o_custkey = c.cp
    ), routed AS (
        SELECT *,
               CASE WHEN NOT issue_specific THEN 0
                    ELSE coalesce(cqs, 0) END AS cqs_eff
        FROM j
    ), priced AS (
        SELECT *,
               CASE
                 WHEN sl_type IS NOT NULL AND cqs_eff <= 0 THEN
                      CASE
                        WHEN sl_type = 'object_finance' THEN 1.00
                        WHEN sl_type = 'commodities_finance' THEN 1.00
                        WHEN phase = 'pre_operational' THEN 1.30
                        WHEN phase = 'high_quality_operational' THEN 0.80
                        ELSE 1.00 END
                 ELSE CASE coalesce(cqs, 0)
                      WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.75
                      WHEN 4 THEN 1.0 WHEN 5 THEN 1.5 WHEN 6 THEN 1.5
                      ELSE 1.0 END
               END AS rw,
               CASE
                 WHEN sl_type IS NOT NULL AND cqs_eff <= 0 THEN
                      'b31_sa_sl_' ||
                      CASE
                        WHEN sl_type = 'object_finance' THEN 'object_finance'
                        WHEN sl_type = 'commodities_finance' THEN 'commodities_finance'
                        WHEN phase = 'pre_operational' THEN 'project_finance_pre_operational'
                        WHEN phase = 'high_quality_operational' THEN 'project_finance_high_quality'
                        ELSE 'project_finance_operational' END
                 ELSE 'sa_cqs_lookup'
               END AS rw_source
        FROM routed
    )
    SELECT rw_source, count(*) AS n_exposures,
           sum(CAST(round(ead * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM priced GROUP BY 1
"""


@query("sa_b31_sl_routing", oracle=_B31_SA_SL_ORACLE, tags=("engine", "sa", "slotting"))
def sa_b31_sl_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PS1/26 Art.122A-122B SA specialised lending through the REAL B3.1
    pipeline: unrated SL prices on the type-specific table (object /
    commodities 100%, project finance 130% pre-operational / 100%
    operational / 80% high-quality), rated SL keeps its Art.122A(3)
    corporate CQS weight, and Art.139(2B) disapplies non-issue-specific
    (inferred / issuer-level) ratings for this routing — re-routing those
    rows through the unrated table. SL rows here carry NO slotting
    category (slot_category null), so they stay on the SA branch — the
    Art.153(5) IRB slotting route is orthogonal. Aggregated by rw_source."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
        (F.col("c_custkey") % 5 != 0).alias("external_rating_is_issue_specific"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    sl = c.where(F.col("c_custkey") % 4 != 3).select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit(None).cast("string").alias("slot_category"),
        F.when(F.col("c_custkey") % 4 == 0, "object_finance")
        .when(F.col("c_custkey") % 4 == 1, "commodities_finance")
        .otherwise("project_finance")
        .alias("sl_type"),
        F.when(F.col("c_custkey") % 3 == 0, "pre_operational")
        .when(F.col("c_custkey") % 3 == 1, "operational")
        .otherwise("high_quality_operational")
        .alias("sl_project_phase"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, specialised_lending=sl),
        PipelineConfig(pack=B31_PACK),
    )
    return out.results.groupBy("rw_source").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


# ---------------------------------------------------------------------------
# Art.124L counterparty-type residual table (PS1/26; ref
# engine/sa/b31_risk_weight_tables.py:144-156 + :760-799
# _b31_art_124l_cp_rw_expr + packs/b31.py:1198-1217): the general-RE
# loan-split REMAINDER — and the Art.124J non-dependent other-RE weight —
# price as an exposure to the counterparty through a four-limb type table:
# natural person / retail-qualifying SME 75%, other SME 85%, registered
# social housing max(75%, unsecured cp RW), full unsecured cp RW otherwise.
# The SME input is the CRR Art.4(1)(128D) size test (turnover < 50m, else
# balance-sheet total < 43m), computed by the classify stage; the
# Art.124H(3) routing gate widens to natural-person OR SME (any SME).
# ---------------------------------------------------------------------------

_B31_RE_124L_ORACLE = """
    WITH cps AS (
        SELECT c_custkey AS cp, CAST(c_custkey % 7 AS INTEGER) AS cqs,
               (c_custkey % 5 = 0) AS is_person,
               (c_custkey % 3 = 0) AS managed_retail,
               CASE CAST(c_custkey % 4 AS INTEGER)
                    WHEN 0 THEN 10000000.0 WHEN 1 THEN 500000000.0
                    ELSE 0.0 END AS revenue,
               CASE WHEN c_custkey % 4 = 2 THEN 30000000.0
                    ELSE 0.0 END AS assets,
               (c_custkey % 11 = 0) AS social
        FROM customer
    ), typed AS (
        SELECT *,
               CASE WHEN revenue > 0 THEN revenue < 50000000.0
                    ELSE assets > 0 AND assets < 43000000.0 END AS is_sme,
               CASE WHEN is_person OR managed_retail THEN 0.75
                    ELSE CASE coalesce(cqs, 0)
                         WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.75
                         WHEN 4 THEN 1.0 WHEN 5 THEN 1.5 WHEN 6 THEN 1.5
                         ELSE 1.0 END END AS cp_rw
        FROM cps
    ), loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp,
               o_totalprice / 1000.0
                   * CASE WHEN o_custkey % 9 = 0 THEN 10000.0 ELSE 1.0 END
                   AS drawn,
               0.35 + CAST(o_orderkey % 17 AS DOUBLE) * 0.05 AS ltv,
               (o_orderkey % 4 = 0) AS commercial,
               (o_orderkey % 11 = 0) AS other_re,
               (o_orderkey % 29 = 0) AS is_defaulted
        FROM orders
    ), grouped AS (
        -- the classify stage's fixed-point group aggregate (cents-rounded
        -- per row before summing) against the Art.123 threshold
        SELECT cp,
               sum(CAST(round(drawn * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS group_exposure
        FROM loans GROUP BY cp
    ), limbed AS (
        SELECT t.*, g.group_exposure <= 1000000.0 AS under_threshold,
               -- PS1/26 Art.123A two-path: threshold fail disqualifies,
               -- SMEs auto-qualify by size (limb a), non-SMEs need the
               -- managed-as-retail attestation
               (g.group_exposure <= 1000000.0
                AND (t.is_sme OR t.managed_retail)) AS qualifies,
               CASE WHEN t.is_person
                         OR (t.is_sme AND g.group_exposure <= 1000000.0)
                         THEN 0.75
                    WHEN t.is_sme THEN 0.85
                    WHEN t.social THEN greatest(0.75, t.cp_rw)
                    ELSE t.cp_rw END AS cp_rw_124l,
               (t.is_person OR t.managed_retail OR t.is_sme) AS person_or_sme
        FROM typed t JOIN grouped g ON t.cp = g.cp
    ), j AS (
        SELECT l.*, c.cp_rw, c.cp_rw_124l, c.person_or_sme,
               least(0.55 / l.ltv, 1.0) AS ss,
               CASE WHEN l.ltv <= 0.80 THEN 1.00 ELSE 1.10 END AS income_base
        FROM loans l JOIN limbed c ON l.cp = c.cp
    ), priced AS (
        SELECT *,
               CASE
                 -- Art.127(3): only general (non-income) resi RE defaults
                 -- keep the flat 100%; commercial / other-RE defaults take
                 -- the Art.127(1) provision test (no provisions -> 150%)
                 WHEN is_defaulted AND NOT commercial AND NOT other_re
                      THEN 1.0
                 WHEN is_defaulted THEN 1.5
                 WHEN other_re AND commercial THEN greatest(0.60, cp_rw_124l)
                 WHEN other_re THEN cp_rw_124l
                 WHEN commercial AND NOT person_or_sme THEN
                      greatest(0.60, least(cp_rw, income_base))
                 WHEN commercial THEN 0.60 * ss + cp_rw_124l * (1.0 - ss)
                 ELSE 0.20 * ss + cp_rw_124l * (1.0 - ss)
               END AS rw,
               CASE
                 WHEN is_defaulted AND NOT commercial AND NOT other_re
                      THEN 'sa_defaulted_secured'
                 WHEN is_defaulted THEN 'sa_defaulted'
                 WHEN other_re AND commercial THEN 'b31_other_re_cre'
                 WHEN other_re THEN 'b31_other_re_resi'
                 WHEN commercial AND NOT person_or_sme THEN 'b31_cre_art124h3'
                 WHEN commercial THEN 'b31_cre_loan_split'
                 ELSE 'b31_rre_loan_split'
               END AS rw_source
        FROM j
    )
    SELECT rw_source, count(*) AS n_exposures,
           sum(CAST(round(drawn * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((drawn * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM priced GROUP BY 1
"""


@query("sa_b31_re_art124l", oracle=_B31_RE_124L_ORACLE, tags=("engine", "sa", "rwa"))
def sa_b31_re_art124l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PS1/26 Art.124L counterparty-type residual table through the REAL
    B3.1 pipeline: general (non-income) property-secured loans loan-split,
    and the REMAINDER prices by counterparty type — natural person /
    retail-qualifying SME 75% (limb a), other SME 85% (limb b, the size
    test passing on EITHER the 50m turnover or the 43m balance-sheet
    criterion per CRR Art.4(1)(128D)), registered social housing
    max(75%, unsecured counterparty RW) (limb c), full unsecured
    counterparty RW otherwise. The Art.124J non-dependent other-RE limbs
    consume the same table (CRE floored at 60%, RESI unfloored), and the
    Art.124H(3) general-CRE routing gate widens to natural-person OR SME —
    an 85%-residual SME reaches the preferential split a large corporate
    cannot. Aggregated by rw_source."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 5 == 0, "individual")
        .otherwise("corporate")
        .alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        (F.col("c_custkey") % 3 == 0).alias("is_managed_as_retail"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit(10000000.0))
        .when(F.col("c_custkey") % 4 == 1, F.lit(500000000.0))
        .otherwise(F.lit(0.0))
        .alias("annual_revenue"),
        F.when(F.col("c_custkey") % 4 == 2, F.lit(30000000.0))
        .otherwise(F.lit(0.0))
        .alias("total_assets"),
        (F.col("c_custkey") % 11 == 0).alias("is_social_housing"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        # every 9th obligor's book is scaled over the Art.123A(1)(b)(i)
        # aggregate threshold so BOTH limbs of the two-path stay
        # value-visible: an over-threshold SME prices on the 85% limb (b),
        # an under-threshold unmanaged SME AUTO-qualifies onto limb (a)
        (
            F.col("o_totalprice")
            / F.lit(1000.0)
            * F.when(F.col("o_custkey") % 9 == 0, F.lit(10000.0)).otherwise(
                F.lit(1.0)
            )
        ).alias("drawn_amount"),
        (F.col("o_orderkey") % 29 == 0).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        F.lit(True).alias("is_property_secured"),
        (F.lit(0.35) + (F.col("o_orderkey") % 17).cast("double") * F.lit(0.05)).alias(
            "ltv"
        ),
        F.lit(False).alias("is_income_producing"),
        (F.col("o_orderkey") % 4 == 0).alias("is_commercial_re"),
        (F.col("o_orderkey") % 11 == 0).alias("is_other_re"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=B31_PACK),
    )
    return out.results.groupBy("rw_source").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


# ---------------------------------------------------------------------------
# Per-type collateral decomposition carriers (ref CALCULATION_OUTPUT_SCHEMA
# data/schemas.py:2963-2968 "Per-type collateral tracking for COREP C 08.01
# cols 0170-0210"): the CRM stage decomposes the allocated (post-haircut,
# post-mismatch) value by collateral type inside its ONE existing
# aggregation — financial (cash reported again as its own subset),
# receivables, other physical; real estate never enters the FCCM channel
# (it drives the Art.124(2) RE-split instead, which seals
# collateral_re_value itself), so financial + receivables + other
# ≡ collateral_value exactly.
# ---------------------------------------------------------------------------

_COLL_TYPE_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS drawn
        FROM orders
    ), typed AS (
        SELECT l.*,
               CASE WHEN l.cp % 2 = 0 THEN 'corporate'
                    ELSE 'institution' END AS exposure_class,
               CASE WHEN l.ok % 4 IN (0, 2) THEN
                    CASE CAST(l.ok % 5 AS INTEGER)
                         WHEN 0 THEN 'cash' WHEN 1 THEN 'deposit'
                         WHEN 2 THEN 'govt_bond' WHEN 3 THEN 'receivables'
                         ELSE 'machinery' END
               END AS fccm_type,
               (l.ok % 4 = 1) AS has_re
        FROM loans l
    ), valued AS (
        -- every 16th order's item is issued by its own obligor: the
        -- Art.194(4) gate drops it before allocation, so the row prices
        -- UNSECURED (alloc 0, full drawn EAD)
        SELECT *,
               CASE WHEN fccm_type IS NOT NULL AND ok % 16 <> 2
                    THEN drawn * 0.4 * (1.0 - 0.1) ELSE 0.0 END AS alloc,
               CASE WHEN has_re THEN drawn * 0.9 ELSE 0.0 END AS re_mv
        FROM typed
    ), carriers AS (
        SELECT *,
               alloc AS coll_value,
               CASE WHEN fccm_type IN ('cash', 'deposit', 'govt_bond')
                    THEN alloc ELSE 0.0 END AS fin_value,
               CASE WHEN fccm_type IN ('cash', 'deposit')
                    THEN alloc ELSE 0.0 END AS cash_value,
               CASE WHEN fccm_type = 'receivables'
                    THEN alloc ELSE 0.0 END AS recv_value,
               CASE WHEN fccm_type = 'machinery'
                    THEN alloc ELSE 0.0 END AS other_value,
               drawn - alloc AS ead_after
        FROM valued
    ), split AS (
        -- Art.124(2) RE-split: secured tranche = min(EAD, 80% of property
        -- value) = 0.72·drawn < EAD, so BOTH parts always exist; each part
        -- carries the FULL sealed collateral_re_value (a provenance
        -- carrier, deliberately not conserved across the split)
        SELECT exposure_class, coll_value, fin_value, cash_value,
               recv_value, other_value, 0.0 AS re_value, ead_after
        FROM carriers WHERE NOT has_re
        UNION ALL
        SELECT 're_secured', 0.0, 0.0, 0.0, 0.0, 0.0, re_mv,
               drawn * 0.9 * 0.8
        FROM carriers WHERE has_re
        UNION ALL
        SELECT exposure_class, 0.0, 0.0, 0.0, 0.0, 0.0, re_mv,
               drawn - drawn * 0.9 * 0.8
        FROM carriers WHERE has_re
    )
    SELECT exposure_class, count(*) AS n_rows,
           sum(CAST(round(coll_value * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS coll_value,
           sum(CAST(round(fin_value * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS fin_value,
           sum(CAST(round(cash_value * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS cash_value,
           sum(CAST(round(recv_value * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS recv_value,
           sum(CAST(round(other_value * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS other_value,
           sum(CAST(round(re_value * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS re_value,
           sum(CAST(round(ead_after * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS ead_after
    FROM split GROUP BY 1
"""


@query(
    "crm_collateral_type_ledger",
    oracle=_COLL_TYPE_ORACLE,
    tags=("engine", "crm", "rwa"),
)
def crm_collateral_type_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type collateral decomposition through the REAL pipeline: typed
    FCCM items (cash / deposit / govt_bond / receivables / machinery, 1:1
    links, supplied 10% haircut) decompose the allocated value into the
    financial / cash-subset / receivables / other-physical ledger carriers
    inside the CRM stage's one aggregation; real-estate items bypass FCCM,
    drive the Art.124(2) split, and seal collateral_re_value on BOTH
    resulting parts (provenance, deliberately not conserved across the
    split). financial + receivables + other ≡ collateral_value, and
    ead_after_crm nets only the FCCM total. Aggregated by exposure_class."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 2 == 0, "corporate")
        .otherwise("institution")
        .alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    fccm = o.where((F.col("o_orderkey") % 4).isin(0, 2)).select(
        F.concat(F.lit("COL"), F.col("o_orderkey")).alias("collateral_reference"),
        F.when(F.col("o_orderkey") % 5 == 0, "cash")
        .when(F.col("o_orderkey") % 5 == 1, "deposit")
        .when(F.col("o_orderkey") % 5 == 2, "govt_bond")
        .when(F.col("o_orderkey") % 5 == 3, "receivables")
        .otherwise("machinery")
        .alias("collateral_type"),
        (F.col("o_totalprice") * 0.4).alias("market_value"),
        F.lit(0.1).alias("haircut"),
        F.lit(False).alias("currency_mismatch"),
        # Art.194(4) own-issue gate input: every 16th order pledges paper
        # issued by its own obligor — those rows must price UNSECURED
        F.when(
            F.col("o_orderkey") % 16 == 2,
            F.concat(F.lit("CP"), F.col("o_custkey")),
        ).alias("issuer_counterparty_reference"),
    )
    re_items = o.where(F.col("o_orderkey") % 4 == 1).select(
        F.concat(F.lit("RE"), F.col("o_orderkey")).alias("collateral_reference"),
        F.lit("real_estate").alias("collateral_type"),
        (F.col("o_totalprice") * 0.9).alias("market_value"),
        F.lit(None).cast("double").alias("haircut"),
        F.lit(False).alias("currency_mismatch"),
    )
    coll = fccm.unionByName(re_items, allowMissingColumns=True)
    links = coll.select(
        "collateral_reference",
        F.concat(
            F.lit("L"), F.regexp_extract("collateral_reference", r"(\d+)$", 1)
        ).alias("exposure_reference"),
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, collateral=coll, collateral_links=links
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy("exposure_class").agg(
        F.count("*").alias("n_rows"),
        scaled_sum(F.col("collateral_value"), 2).alias("coll_value"),
        scaled_sum(F.col("collateral_financial_value"), 2).alias("fin_value"),
        scaled_sum(F.col("collateral_cash_value"), 2).alias("cash_value"),
        scaled_sum(F.col("collateral_receivables_value"), 2).alias("recv_value"),
        scaled_sum(F.col("collateral_other_physical_value"), 2).alias("other_value"),
        scaled_sum(F.coalesce(F.col("collateral_re_value"), F.lit(0.0)), 2).alias(
            "re_value"
        ),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead_after"),
    )


# ---------------------------------------------------------------------------
# Guarantee-impact ledger block (ref CALCULATION_OUTPUT_SCHEMA
# data/schemas.py:2972-3005 + engine/irb/guarantee.py:865-903): the
# covered/retained EAD split, the Art.233(3) protection-value haircuts
# (credit derivative without restructuring −40%, currency mismatch −8%),
# the isolated substitution benefit and the status enums, all sealed as
# per-exposure carriers by the CRM stage + SA calculator.
# ---------------------------------------------------------------------------

_GTEE_LEDGER_ORACLE = """
    WITH cps AS (
        -- every literal-derived numeric is CAST AS DOUBLE: DuckDB types
        -- bare decimal CASE literals as DECIMAL and would evaluate the
        -- coverage/blend arithmetic exactly instead of in binary doubles
        -- (the recorded verify gotcha)
        SELECT c_custkey AS cp,
               CAST(CASE CAST(c_custkey % 7 AS INTEGER)
                    WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 1.0
                    WHEN 4 THEN 1.0 WHEN 5 THEN 1.5 WHEN 6 THEN 1.5
                    ELSE 1.0 END AS DOUBLE) AS own_rw
        FROM customer
    ), loans AS (
        SELECT o.o_orderkey AS ok, o.o_totalprice AS ead, c.own_rw
        FROM orders o JOIN cps c ON o.o_custkey = c.cp
    ), gtees AS (
        SELECT *,
               (ok % 4 <> 3) AS has_g,
               CAST(CASE WHEN ok % 4 <> 3 AND ok % 5 = 0 THEN 0.08
                    ELSE 0.0 END AS DOUBLE) AS fx_h,
               CAST(CASE WHEN ok % 4 <> 3 AND ok % 3 = 0 AND ok % 2 <> 0
                    THEN 0.40 ELSE 0.0 END AS DOUBLE) AS restr_h,
               CAST(CASE WHEN ok % 4 <> 3 THEN
                    CASE CAST(ok % 7 AS INTEGER)
                         WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.5
                         WHEN 4 THEN 1.0 WHEN 5 THEN 1.0 WHEN 6 THEN 1.5
                         ELSE 0.5 END END AS DOUBLE) AS g_rw
        FROM loans
    ), eff AS (
        SELECT *,
               CASE WHEN has_g
                    THEN CAST(0.6 AS DOUBLE) * (1.0 - fx_h) * (1.0 - restr_h)
                    ELSE CAST(0.0 AS DOUBLE) END AS g_eff
        FROM gtees
    ), priced AS (
        SELECT *,
               (g_eff > 0 AND g_rw < own_rw) AS beneficial,
               g_eff * least(own_rw, coalesce(g_rw, own_rw))
                   + (1.0 - g_eff) * own_rw AS rw
        FROM eff
    ), labelled AS (
        SELECT *,
               CASE WHEN NOT has_g THEN 'NO_GUARANTEE'
                    WHEN NOT beneficial
                         THEN 'GUARANTEE_NOT_APPLIED_NON_BENEFICIAL'
                    ELSE 'SA_RW_SUBSTITUTION' END AS guarantee_status,
               g_eff * ead AS g_portion,
               CASE WHEN beneficial
                    THEN g_eff * (own_rw - g_rw) * ead ELSE 0.0 END AS benefit
        FROM priced
    )
    SELECT guarantee_status, count(*) AS n_rows,
           -- floor(x*100 + 0.5) half-up in BOTH engines: the blended-RW
           -- products land on exact half-cents where Spark/DuckDB round()
           -- disagree (the recorded verify gotcha)
           sum(CAST(floor(ead * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(floor(g_portion * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS guaranteed_ead,
           sum(CAST(floor((ead - g_portion) * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS unguaranteed_ead,
           sum(CAST(floor(benefit * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_benefit,
           sum(CAST(floor((ead * rw) * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_rwa,
           CAST(sum(CAST(floor(fx_h * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS fx_haircut_sum,
           CAST(sum(CAST(floor(restr_h * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS restr_haircut_sum
    FROM labelled GROUP BY 1
"""


@query(
    "crm_guarantee_ledger",
    oracle=_GTEE_LEDGER_ORACLE,
    tags=("engine", "crm", "rwa"),
)
def crm_guarantee_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarantee-impact ledger carriers through the REAL pipeline: CRR
    Art.233(3) protection-value haircuts reduce the EFFECTIVE coverage (a
    credit derivative whose events exclude restructuring loses 40%, a
    currency-mismatched protection loses the 8% supervisory FX haircut —
    both multiplicative), the SA calculator blends the covered share at
    min(own RW, guarantor RW), and the ledger seals the covered/retained
    EAD split, the isolated benefit g·(own−g_rw)·EAD, and the
    NO_GUARANTEE / GUARANTEE_NOT_APPLIED_NON_BENEFICIAL /
    SA_RW_SUBSTITUTION status enum. Aggregated by guarantee_status."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    gtees = o.where(F.col("o_orderkey") % 4 != 3).select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.lit(0.6).alias("coverage_pct"),
        F.lit("institution").alias("guarantor_class"),
        (F.col("o_orderkey") % 7).cast("int").alias("guarantor_cqs"),
        F.concat(F.lit("GCP"), F.col("o_orderkey")).alias("guarantor_reference"),
        F.concat(F.lit("G"), F.col("o_orderkey")).alias("guarantee_reference"),
        F.when(F.col("o_orderkey") % 3 == 0, "credit_derivative")
        .otherwise("guarantee")
        .alias("protection_type"),
        (F.col("o_orderkey") % 2 == 0).alias("includes_restructuring"),
        (F.col("o_orderkey") % 5 == 0).alias("currency_mismatch"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, guarantees=gtees),
        PipelineConfig(pack=CRR_PACK),
    )
    def fsum(col):
        # floor(x*100 + 0.5) half-up fixed point — both engines agree on
        # exact half-cent ties, unlike round() (recorded verify gotcha)
        return F.sum(F.floor(col * 100.0 + 0.5).cast("long")) / F.lit(100.0)

    return out.results.groupBy("guarantee_status").agg(
        F.count("*").alias("n_rows"),
        fsum(F.col("ead_after_crm")).alias("total_ead"),
        fsum(F.col("guaranteed_portion")).alias("guaranteed_ead"),
        fsum(F.col("unguaranteed_portion")).alias("unguaranteed_ead"),
        fsum(F.col("guarantee_benefit")).alias("total_benefit"),
        fsum(F.col("rwa")).alias("total_rwa"),
        fsum(F.coalesce(F.col("guarantee_fx_haircut"), F.lit(0.0))).alias(
            "fx_haircut_sum"
        ),
        fsum(
            F.coalesce(F.col("guarantee_restructuring_haircut"), F.lit(0.0))
        ).alias("restr_haircut_sum"),
    )


# ---------------------------------------------------------------------------
# Provision-impact ledger block (ref CALCULATION_OUTPUT_SCHEMA
# data/schemas.py:3005-3008): provision_references (which provisions were
# applied, across all allocation levels), the IFRS 9 SCRA/GCRA split of the
# allocated total, and provision_capped_amount — the amount that actually
# reduced the SA exposure value (drawn-first, Art.110/111(2)).
# ---------------------------------------------------------------------------

_PROV_LEDGER_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS drawn,
               CASE WHEN o_custkey % 2 = 0 THEN 'corporate'
                    ELSE 'institution' END AS exposure_class
        FROM orders
    ), denoms AS (
        SELECT cp,
               sum(CAST(round(drawn * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS cp_denom
        FROM loans GROUP BY cp
    ), allocs AS (
        SELECT l.*,
               CASE WHEN l.ok % 3 = 0
                    THEN l.drawn * CAST(0.05 AS DOUBLE) ELSE 0.0 END AS p_direct,
               CASE WHEN l.ok % 3 = 0 AND l.ok % 2 <> 0
                    THEN l.drawn * CAST(0.05 AS DOUBLE) ELSE 0.0 END AS p_direct_g,
               CASE WHEN l.cp % 4 = 0
                    THEN CAST(1000.0 AS DOUBLE) * (l.drawn / d.cp_denom)
                    ELSE 0.0 END AS p_cp,
               (CASE WHEN l.ok % 3 = 0 THEN 1 ELSE 0 END
                + CASE WHEN l.cp % 4 = 0 THEN 1 ELSE 0 END) AS n_refs
        FROM loans l JOIN denoms d ON l.cp = d.cp
    ), carriers AS (
        SELECT exposure_class, n_refs,
               p_direct + p_cp AS alloc,
               p_direct_g + p_cp AS gcra,
               (p_direct + p_cp) - (p_direct_g + p_cp) AS scra,
               least(p_direct + p_cp, greatest(drawn, 0.0)) AS capped,
               drawn - least(p_direct + p_cp, greatest(drawn, 0.0)) AS ead_after
        FROM allocs
    )
    SELECT exposure_class, count(*) AS n_rows,
           CAST(sum(n_refs) AS BIGINT) AS total_refs,
           sum(CAST(floor(alloc * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS prov_allocated,
           sum(CAST(floor(scra * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS scra_amount,
           sum(CAST(floor(gcra * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS gcra_amount,
           sum(CAST(floor(capped * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS capped_amount,
           sum(CAST(floor(ead_after * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS ead_after
    FROM carriers GROUP BY 1
"""


@query(
    "crm_provision_ledger",
    oracle=_PROV_LEDGER_ORACLE,
    tags=("engine", "crm", "provisions"),
)
def crm_provision_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provision-impact ledger carriers through the REAL pipeline: direct
    (exposure-named) SCRA/GCRA provisions plus counterparty-level pots
    pro-rata'd over the obligor's CCF-weighted basis; the ledger seals
    provision_references (sorted union across levels),
    scra/gcra_provision_amount (the typed amounts riding the same
    allocation fractions, scra + gcra ≡ provision_allocated) and
    provision_capped_amount — the drawn-first deduction that actually
    reduced the SA exposure value. Aggregated by exposure_class."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 2 == 0, "corporate")
        .otherwise("institution")
        .alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    direct = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("beneficiary_reference"),
        F.lit("exposure").alias("beneficiary_type"),
        (F.col("o_totalprice") * F.lit(0.05)).alias("amount"),
        F.when(F.col("o_orderkey") % 2 != 0, "gcra")
        .otherwise("scra")
        .alias("provision_type"),
        F.concat(F.lit("P"), F.col("o_orderkey")).alias("provision_reference"),
    )
    cp_pots = c.where(F.col("c_custkey") % 4 == 0).select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("beneficiary_reference"),
        F.lit("counterparty").alias("beneficiary_type"),
        F.lit(1000.0).alias("amount"),
        F.lit("gcra").alias("provision_type"),
        F.concat(F.lit("PC"), F.col("c_custkey")).alias("provision_reference"),
    )
    provisions = direct.unionByName(cp_pots)
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, provisions=provisions),
        PipelineConfig(pack=CRR_PACK),
    )

    def fsum(col):
        # floor(x*100 + 0.5) half-up: direct provisions are 2-dp × 0.05
        # products that land on exact half-cents where the engines' round()
        # disagree (recorded verify gotcha)
        return F.sum(F.floor(col * 100.0 + 0.5).cast("long")) / F.lit(100.0)

    r = out.results
    return r.groupBy("exposure_class").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.size(F.coalesce(F.col("provision_references"), F.array()))
        ).alias("total_refs"),
        fsum(F.col("provision_allocated")).alias("prov_allocated"),
        fsum(F.col("scra_provision_amount")).alias("scra_amount"),
        fsum(F.col("gcra_provision_amount")).alias("gcra_amount"),
        fsum(F.col("provision_capped_amount")).alias("capped_amount"),
        fsum(F.col("ead_after_crm")).alias("ead_after"),
    )


# ---------------------------------------------------------------------------
# PS1/26 Art.153(5A)/154(4A)/158(6A) post-model adjustments (ref
# engine/irb/adjustments.py:122-279): the 10% residential-mortgage RW floor
# applies FIRST (its increase establishes the post-floor RWEA base), then
# the firm-elected general-PMA and unrecognised-exposure scalars multiply
# that base; EL PMAs are floored at zero. B3.1-only (pack Feature).
# ---------------------------------------------------------------------------


def _pma_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum
    from rwa_calculator_spark.functions.irb import sql_capital_k_r
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    return f"""
    WITH loans AS (
        SELECT o_orderkey AS ok, o_totalprice / 1000.0 AS ead,
               0.0005 + CAST(o_orderkey % 10 AS DOUBLE) * 0.0005 AS pd_raw
        FROM orders
    ), fl AS (
        -- PS1/26 Art.163(1)(b) retail-MORTGAGE PD floor 0.0010 (the
        -- class-routed floor run_irb applies; was the flat 0.0005)
        SELECT *, greatest(pd_raw, 0.0010) AS pd_f,
               -- Art.164(4)(a) retail-RRE A-IRB LGD floor is 5%, so the
               -- supplied modelled LGD 0.20 stands
               CAST(0.20 AS DOUBLE) AS lgd_f,
               CAST(0.15 AS DOUBLE) AS r_c
        FROM loans
    ), g AS (
        SELECT *, {sql_acklam_raw('pd_f')} AS x0 FROM fl
    ), g2 AS (
        SELECT * EXCLUDE (x0), {sql_halley_step('x0', 'pd_f')} AS g_pd FROM g
    ), k AS (
        SELECT *, {sql_capital_k_r('pd_f', 'lgd_f', 'g_pd', 'r_c')} AS kv FROM g2
    ), priced AS (
        -- retail: no maturity adjustment; B3.1 scaling factor 1.0
        SELECT *, (kv * 12.5) AS rw, ead * (kv * 12.5) AS rwa0,
               (pd_f * lgd_f) * ead AS el0
        FROM k
    ), adjusted AS (
        SELECT *,
               CASE WHEN rw < 0.10 THEN (0.10 - rw) * ead ELSE 0.0 END AS mort_adj
        FROM priced
    ), scaled AS (
        SELECT *,
               rwa0 + mort_adj AS rwa_floored,
               (rwa0 + mort_adj) * 0.05 AS pma_rwa,
               (rwa0 + mort_adj) * 0.02 AS unrec_adj,
               greatest(0.0, el0 * 0.10) AS el_pma
        FROM adjusted
    )
    SELECT count(*) AS n_rows,
           (CASE WHEN count(CASE WHEN mort_adj > 0 THEN 1 END) > 0
                 THEN count(CASE WHEN mort_adj > 0 THEN 1 END) END) AS n_floored,
           {sql_scaled_sum('rwa0', 4)} AS rwa_pre_adj,
           {sql_scaled_sum('mort_adj', 4)} AS mortgage_floor_adj,
           {sql_scaled_sum('pma_rwa', 4)} AS general_pma,
           {sql_scaled_sum('unrec_adj', 4)} AS unrecognised_adj,
           {sql_scaled_sum('rwa_floored + pma_rwa + unrec_adj', 4)} AS rwa_final,
           {sql_scaled_sum('el0', 4)} AS el_pre,
           {sql_scaled_sum('el_pma', 4)} AS el_pma,
           {sql_scaled_sum('el0 + el_pma', 4)} AS el_after
    FROM scaled
    """


@query("irb_pma_adjustments", oracle=_pma_oracle(), tags=("engine", "irb", "rwa", "tolerant"))
def irb_pma_adjustments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-model adjustments through the REAL B3.1 pipeline: a low-PD
    retail-mortgage IRB book (modelled weights 1-8%, all below the
    Art.154(4A)(b) 10% floor), with firm elections PMA 5% / unrecognised
    2% of post-floor RWEA and 10% of EL. The oracle re-derives the retail
    Vasicek kernel (R = 0.15, no maturity adjustment, B3.1 scaling 1.0),
    applies the floor FIRST, scales the post-floor base, and floors the
    EL add-on at zero — the reference's recorded sequencing, which this
    query would catch being reordered (scalars on the pre-floor base
    understate capital on every floored row)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("individual").alias("entity_type"),
        F.lit(0).cast("int").alias("cqs"),
        F.lit(True).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
        F.lit("mortgage").alias("retail_subtype"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        (F.col("o_totalprice") / F.lit(1000.0)).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        (F.lit(0.0005) + (F.col("o_orderkey") % 10).cast("double") * F.lit(0.0005)).alias(
            "pd"
        ),
        F.lit(0.20).alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(
            pack=B31_PACK,
            pma_rwa_scalar=0.05,
            pma_el_scalar=0.10,
            pma_unrecognised_scalar=0.02,
        ),
    )
    r = out.results
    return r.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("mortgage_rw_floor_adjustment") > 0, 1)
        ).alias("n_floored"),
        scaled_sum(F.col("rwa_pre_adjustments"), 4).alias("rwa_pre_adj"),
        scaled_sum(F.col("mortgage_rw_floor_adjustment"), 4).alias(
            "mortgage_floor_adj"
        ),
        scaled_sum(F.col("post_model_adjustment_rwa"), 4).alias("general_pma"),
        scaled_sum(F.col("unrecognised_exposure_adjustment"), 4).alias(
            "unrecognised_adj"
        ),
        scaled_sum(F.col("rwa_pre_floor"), 4).alias("rwa_final"),
        scaled_sum(F.col("el_pre_adjustment"), 4).alias("el_pre"),
        scaled_sum(F.col("post_model_adjustment_el"), 4).alias("el_pma"),
        scaled_sum(F.col("el_after_adjustment"), 4).alias("el_after"),
    )


# ---------------------------------------------------------------------------
# CRM provenance + facility-path ledger block (ref CALCULATION_OUTPUT_SCHEMA
# data/schemas.py:2911-2929 + engine/crm/processor.py _build_exposure_lookups
# + engine/stages/hierarchy/graph.py:180-305): WHERE in the facility
# hierarchy each mitigant came from (source level / inherited-from /
# allocation method for collateral, guarantees and provisions), the
# root/ancestors/path/depth facility-structure carriers, and the
# crm_allocation_notes audit line.
# ---------------------------------------------------------------------------

_PROVENANCE_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS ck, o_totalprice AS drawn
        FROM orders
    ), prov AS (
        -- provision book rides the ODD custkeys only (keeps the collateral
        -- denominators on clean 2-dp EADs): direct 5% on ok%3=0, a 1000
        -- counterparty pot on ck ending in 5
        SELECT l.*,
               CASE WHEN ck % 2 = 1 AND ok % 3 = 0
                    THEN drawn * CAST(0.05 AS DOUBLE) ELSE 0.0 END AS p_direct
        FROM loans l
    ), cpden AS (
        SELECT ck, sum(CAST(round(drawn * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS den
        FROM loans GROUP BY ck
    ), eadt AS (
        SELECT p.*,
               CASE WHEN p.ck % 2 = 1 AND p.ck % 5 = 0
                    THEN CAST(1000.0 AS DOUBLE) * (p.drawn / d.den)
                    ELSE 0.0 END AS p_cp,
               p.drawn - least(
                   p.p_direct + CASE WHEN p.ck % 2 = 1 AND p.ck % 5 = 0
                        THEN CAST(1000.0 AS DOUBLE) * (p.drawn / d.den)
                        ELSE 0.0 END, p.drawn) AS ead
        FROM prov p JOIN cpden d USING (ck)
    ),
    -- collateral books ride the EVEN custkeys (ead = drawn exactly there).
    -- direct: CD{ok} 0.3*drawn on ok%5=0; facility: CF{ck} 500 at F{ck} on
    -- ck%6=0; grandparent: CG{ck} 800 at RF{ck%10} on ck%970=0 (cascades
    -- over every even cp with the same last digit); counterparty: CC{ck}
    -- 400 on ck%22=0. Denominators are cent-rounded member-EAD sums.
    fden AS (
        SELECT ck, sum(CAST(round(ead * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS den
        FROM eadt WHERE ck % 2 = 0 GROUP BY ck
    ), gden AS (
        SELECT ck % 10 AS d, sum(CAST(round(ead * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS den
        FROM eadt WHERE ck % 2 = 0 GROUP BY ck % 10
    ), alloc AS (
        SELECT e.*,
               CASE WHEN e.ck % 2 = 0 AND e.ok % 5 = 0
                    THEN (CAST(0.3 AS DOUBLE) * e.drawn)
                         * (e.ead / (CAST(round(e.ead * 100.0, 0) AS BIGINT)
                                     / CAST(100 AS DOUBLE)))
                    ELSE 0.0 END AS a_direct,
               CASE WHEN e.ck % 2 = 0 AND e.ck % 6 = 0
                    THEN CAST(500.0 AS DOUBLE) * (e.ead / f.den)
                    ELSE 0.0 END AS a_fac,
               -- one 800 pot PER CG item pledged at this loan's root
               -- (several custkeys can share a last digit); each item
               -- allocates the same share independently
               CASE WHEN e.ck % 2 = 0
                    THEN (CAST(800.0 AS DOUBLE) * (e.ead / g.den))
                         * (SELECT count(*) FROM customer c2
                            WHERE c2.c_custkey % 970 = 0
                              AND c2.c_custkey % 10 = e.ck % 10)
                    ELSE 0.0 END AS a_grand_extra,
               CASE WHEN e.ck % 2 = 0 AND e.ck % 22 = 0
                    THEN CAST(400.0 AS DOUBLE) * (e.ead / f.den)
                    ELSE 0.0 END AS a_cp
        FROM eadt e
        LEFT JOIN fden f ON e.ck = f.ck
        LEFT JOIN gden g ON e.ck % 10 = g.d
    ), carriers AS (
        SELECT *,
               a_direct + a_fac + a_grand_extra + a_cp AS coll_value,
               greatest(ead - (a_direct + a_fac + a_grand_extra + a_cp),
                        0.0) AS ead_after,
               -- provenance: priority exposure < facility < counterparty
               CASE WHEN a_direct > 0 THEN 'exposure'
                    WHEN a_fac > 0 OR a_grand_extra > 0 THEN 'facility'
                    WHEN a_cp > 0 THEN 'counterparty' END AS coll_lvl,
               CASE WHEN a_direct > 0 THEN 'direct'
                    WHEN a_fac > 0 OR a_grand_extra > 0 OR a_cp > 0
                         THEN 'pro_rata' END AS coll_method,
               -- inherited-from: min over contributing facility pots
               -- ('F...' < 'RF...'); counterparty pots name the obligor
               CASE WHEN a_direct > 0 THEN NULL
                    WHEN a_fac > 0 THEN 'F' || CAST(ck AS VARCHAR)
                    WHEN a_grand_extra > 0
                         THEN 'RF' || CAST(ck % 10 AS VARCHAR)
                    WHEN a_cp > 0 THEN 'CP' || CAST(ck AS VARCHAR) END
                   AS coll_inh,
               CASE WHEN p_direct > 0 THEN 'exposure'
                    WHEN p_cp > 0 THEN 'counterparty' END AS prov_lvl,
               CASE WHEN p_direct > 0 THEN NULL
                    WHEN p_cp > 0 THEN 'CP' || CAST(ck AS VARCHAR) END
                   AS prov_inh,
               CASE WHEN ok % 6 = 0 THEN 'exposure' END AS gtee_lvl
        FROM alloc
    )
    SELECT coll_lvl AS collateral_source_level,
           coll_method AS collateral_allocation_method,
           prov_lvl AS provision_source_level,
           gtee_lvl AS guarantee_source_level,
           count(*) AS n_rows,
           sum(CAST(floor(coll_value * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS coll_value,
           sum(CAST(floor(ead_after * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS ead_after,
           count(DISTINCT coll_inh) AS n_coll_sources,
           count(DISTINCT prov_inh) AS n_prov_sources,
           count(DISTINCT 'RF' || CAST(ck % 10 AS VARCHAR)) AS n_roots,
           max(3) AS max_path_len,
           count(*) AS n_with_parent,
           count(CASE WHEN coll_lvl IS NOT NULL OR prov_lvl IS NOT NULL
                      OR gtee_lvl IS NOT NULL THEN 1 END) AS n_notes
    FROM carriers
    GROUP BY 1, 2, 3, 4
"""


@query(
    "crm_provenance_ledger",
    oracle=_PROVENANCE_ORACLE,
    tags=("engine", "crm", "rwa"),
)
def crm_provenance_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRM-inheritance + facility-path provenance through the REAL
    pipeline: a two-level facility tree (loan → F{cp} → RF{cp%10}) seals
    the root/ancestors/path/depth carriers via the hierarchy stage's
    broadcast closure, while collateral pledged at all three beneficiary
    levels — direct to the exposure, at the parent facility, at the
    GRANDPARENT facility (exercising the subtree cascade), and at the
    obligor — resolves through the link kernel and seals
    collateral_source_level / collateral_inherited_from /
    collateral_allocation_method (priority exposure < facility <
    counterparty). Provision and guarantee provenance twins ride the same
    run, and crm_allocation_notes names each mitigant's source. Aggregated
    by the four provenance enums (ref CALCULATION_OUTPUT_SCHEMA
    data/schemas.py:2911-2929)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    # two-level facility tree: every loan under F{cp}, every F{cp} under
    # RF{cp%10}
    fmap = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("child_reference"),
        F.lit("loan").alias("child_type"),
        F.concat(F.lit("F"), F.col("o_custkey")).alias("parent_facility_reference"),
    ).unionByName(
        c.select(
            F.concat(F.lit("F"), F.col("c_custkey")).alias("child_reference"),
            F.lit("facility").alias("child_type"),
            F.concat(F.lit("RF"), F.col("c_custkey") % 10).alias(
                "parent_facility_reference"
            ),
        )
    )
    ck = F.col("c_custkey")
    cd = o.where((F.col("o_custkey") % 2 == 0) & (F.col("o_orderkey") % 5 == 0)).select(
        F.concat(F.lit("CD"), F.col("o_orderkey")).alias("collateral_reference"),
        F.lit("cash").alias("collateral_type"),
        (F.col("o_totalprice") * 0.3).alias("market_value"),
        F.lit(0.0).alias("haircut"),
        F.lit(False).alias("currency_mismatch"),
    )
    cf = c.where(ck % 6 == 0).select(
        F.concat(F.lit("CF"), ck).alias("collateral_reference"),
        F.lit("cash").alias("collateral_type"),
        F.lit(500.0).alias("market_value"),
        F.lit(0.0).alias("haircut"),
        F.lit(False).alias("currency_mismatch"),
    )
    cg = c.where(ck % 970 == 0).select(
        F.concat(F.lit("CG"), ck).alias("collateral_reference"),
        F.lit("cash").alias("collateral_type"),
        F.lit(800.0).alias("market_value"),
        F.lit(0.0).alias("haircut"),
        F.lit(False).alias("currency_mismatch"),
    )
    cc = c.where(ck % 22 == 0).select(
        F.concat(F.lit("CC"), ck).alias("collateral_reference"),
        F.lit("cash").alias("collateral_type"),
        F.lit(400.0).alias("market_value"),
        F.lit(0.0).alias("haircut"),
        F.lit(False).alias("currency_mismatch"),
    )
    coll = cd.unionByName(cf).unionByName(cg).unionByName(cc)
    _n = F.lit(None).cast("string")
    links = (
        cd.select(
            "collateral_reference",
            F.concat(
                F.lit("L"), F.regexp_extract("collateral_reference", r"(\d+)$", 1)
            ).alias("exposure_reference"),
            F.lit("exposure").alias("beneficiary_type"),
            _n.alias("beneficiary_reference"),
        )
        .unionByName(
            cf.select(
                "collateral_reference",
                _n.alias("exposure_reference"),
                F.lit("facility").alias("beneficiary_type"),
                F.concat(
                    F.lit("F"),
                    F.regexp_extract("collateral_reference", r"(\d+)$", 1),
                ).alias("beneficiary_reference"),
            )
        )
        .unionByName(
            cg.select(
                "collateral_reference",
                _n.alias("exposure_reference"),
                F.lit("facility").alias("beneficiary_type"),
                F.concat(
                    F.lit("RF"),
                    F.regexp_extract("collateral_reference", r"(\d+)$", 1).cast(
                        "long"
                    )
                    % 10,
                ).alias("beneficiary_reference"),
            )
        )
        .unionByName(
            cc.select(
                "collateral_reference",
                _n.alias("exposure_reference"),
                F.lit("counterparty").alias("beneficiary_type"),
                F.concat(
                    F.lit("CP"),
                    F.regexp_extract("collateral_reference", r"(\d+)$", 1),
                ).alias("beneficiary_reference"),
            )
        )
    )
    provisions = (
        o.where((F.col("o_custkey") % 2 == 1) & (F.col("o_orderkey") % 3 == 0))
        .select(
            F.concat(F.lit("L"), F.col("o_orderkey")).alias("beneficiary_reference"),
            F.lit("exposure").alias("beneficiary_type"),
            (F.col("o_totalprice") * 0.05).alias("amount"),
            F.concat(F.lit("PD"), F.col("o_orderkey")).alias("provision_reference"),
            F.lit("scra").alias("provision_type"),
        )
        .unionByName(
            c.where((ck % 2 == 1) & (ck % 5 == 0)).select(
                F.concat(F.lit("CP"), ck).alias("beneficiary_reference"),
                F.lit("counterparty").alias("beneficiary_type"),
                F.lit(1000.0).alias("amount"),
                F.concat(F.lit("PC"), ck).alias("provision_reference"),
                F.lit("gcra").alias("provision_type"),
            )
        )
    )
    gtees = o.where(F.col("o_orderkey") % 6 == 0).select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.lit(0.5).alias("coverage_pct"),
        F.lit("institution").alias("guarantor_class"),
        F.lit(1).cast("int").alias("guarantor_cqs"),
        F.concat(F.lit("GCP"), F.col("o_orderkey")).alias("guarantor_reference"),
        F.concat(F.lit("G"), F.col("o_orderkey")).alias("guarantee_reference"),
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps,
            loans=loans,
            collateral=coll,
            collateral_links=links,
            provisions=provisions,
            guarantees=gtees,
            facility_mappings=fmap,
        ),
        PipelineConfig(pack=CRR_PACK),
    )

    def fsum(col):
        return F.sum(F.floor(col * 100.0 + 0.5).cast("long")) / F.lit(100.0)

    return out.results.groupBy(
        "collateral_source_level",
        "collateral_allocation_method",
        "provision_source_level",
        "guarantee_source_level",
    ).agg(
        F.count("*").alias("n_rows"),
        fsum(F.col("collateral_value")).alias("coll_value"),
        fsum(F.col("ead_after_crm")).alias("ead_after"),
        F.countDistinct("collateral_inherited_from").alias("n_coll_sources"),
        F.countDistinct("provision_inherited_from").alias("n_prov_sources"),
        F.countDistinct("root_facility_reference").alias("n_roots"),
        F.max(F.size("facility_hierarchy_path")).alias("max_path_len"),
        F.sum(F.col("exposure_has_parent").cast("int")).alias("n_with_parent"),
        F.count("crm_allocation_notes").alias("n_notes"),
    )


# ---------------------------------------------------------------------------
# Equity branch depth (round 7): CRR Art.155(2) net-short-position netting
# (ref engine/equity/calculator.py:829-894 _net_short_positions) and the
# PRA Rules 4.1-4.10 B3.1 equity transitional RW floor (ref :1023-1127
# _apply_transitional_floor + rulebook/packs/b31.py:740-761 schedules).
# ---------------------------------------------------------------------------

_EQ_NET_SHORT_ORACLE = """
    WITH pos AS (
        -- one hedged long (+p) and one short (-0.4p) per order on the SAME
        -- stock: 2-element issuer groups keep the float sum commutative so
        -- both engines net bit-identically. Odd orders are UNHEDGED: the
        -- short is ineligible and keeps its absolute market value.
        SELECT o_orderkey AS ok, o_totalprice AS p,
               (o_orderkey % 2 = 0) AS hedged
        FROM orders
    ), rows_ AS (
        SELECT ok, 'long' AS leg, p AS mv, p AS signed, hedged FROM pos
        UNION ALL
        SELECT ok, 'short', p * 0.4, p * (-0.4), hedged FROM pos
    ), netted AS (
        SELECT *,
               CASE WHEN hedged THEN
                    CASE WHEN leg = 'long'
                         THEN greatest(p + (p * (-0.4)), 0.0)
                         ELSE 0.0 END
                    ELSE mv END AS ead
        FROM (SELECT r.*, pos.p AS p FROM rows_ r
              JOIN pos ON r.ok = pos.ok) t
    ), priced AS (
        -- CRR IRB simple: exchange-traded on even orders (290%), other
        -- 370%; Art.158(7) EL 0.8%/2.4%
        SELECT leg, hedged,
               CASE WHEN ok % 2 = 0 THEN 'exchange_traded' ELSE 'other' END
                   AS equity_type,
               ead,
               ead * CAST(CASE WHEN ok % 2 = 0 THEN 2.9 ELSE 3.7 END
                          AS DOUBLE) AS rwa,
               ead * CAST(CASE WHEN ok % 2 = 0 THEN 0.008 ELSE 0.024 END
                          AS DOUBLE) AS el
        FROM netted
    )
    SELECT leg, hedged, equity_type, count(*) AS n_rows,
           sum(CAST(floor(ead * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(floor(rwa * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_rwa,
           sum(CAST(floor(el * 100.0 + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_el
    FROM priced GROUP BY 1, 2, 3
"""


@query(
    "equity_net_short",
    oracle=_EQ_NET_SHORT_ORACLE,
    tags=("engine", "equity", "rwa"),
)
def equity_net_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.155(2) net-short netting through the REAL equity branch:
    every order contributes a long (+p) and an explicit short (−0.4p) on
    the same stock. Hedged pairs (even orders) net — the long carries
    max(0, p−0.4p), the short collapses to 0; unhedged pairs keep their
    absolute market values. 2-element issuer groups keep the float sum
    commutative, so the netting is bit-reproducible against the oracle
    (ref engine/equity/calculator.py:829-894)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.limit(1).select(
        F.lit("L_FILL").alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.lit(100.0).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    hedged = F.col("o_orderkey") % 2 == 0
    longs = o.select(
        F.concat(F.lit("EL"), F.col("o_orderkey")).alias("exposure_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("market_value"),
        (F.col("o_orderkey") % 2 == 0).alias("is_exchange_traded"),
        F.concat(F.lit("ISS"), F.col("o_orderkey")).alias("issuer_reference"),
        F.col("o_totalprice").alias("position_value"),
        hedged.alias("is_explicitly_hedged"),
    )
    shorts = o.select(
        F.concat(F.lit("ES"), F.col("o_orderkey")).alias("exposure_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        (F.col("o_totalprice") * 0.4).alias("market_value"),
        (F.col("o_orderkey") % 2 == 0).alias("is_exchange_traded"),
        F.concat(F.lit("ISS"), F.col("o_orderkey")).alias("issuer_reference"),
        (F.col("o_totalprice") * -0.4).alias("position_value"),
        hedged.alias("is_explicitly_hedged"),
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps,
            loans=loans,
            equity_exposures=longs.unionByName(shorts),
        ),
        PipelineConfig(pack=CRR_PACK),
    )

    def fsum(col):
        return F.sum(F.floor(col * 100.0 + 0.5).cast("long")) / F.lit(100.0)

    r = out.results.where(F.col("exposure_class") == "equity")
    return (
        r.withColumn(
            "leg",
            F.when(F.col("exposure_reference").startswith("EL"), "long").otherwise(
                "short"
            ),
        )
        .withColumn(
            "hedged",
            # try_cast: the book's filler loan row carries a LITERAL
            # non-numeric reference; the equity filter excludes it, but
            # ConstantFolding may compile-time-evaluate this expression on
            # the literal branch of the union (ANSI cast('') would throw
            # at plan time) — a partial function over a filtered frame
            # must be total, same as on any non-checkpointed plan
            F.regexp_extract("exposure_reference", r"(\d+)$", 1).try_cast("long")
            % 2
            == 0,
        )
        .groupBy("leg", "hedged", "equity_type")
        .agg(
            F.count("*").alias("n_rows"),
            fsum(F.col("ead")).alias("total_ead"),
            fsum(F.col("rwa")).alias("total_rwa"),
            fsum(F.col("expected_loss")).alias("total_el"),
        )
    )


_EQ_TRANSITIONAL_ORACLE = """
    WITH eq AS (
        SELECT o_orderkey AS ok, o_totalprice AS mv,
               (o_orderkey % 3 = 0) AS spec,
               (o_orderkey % 5 = 0) AS pe,
               (o_orderkey % 2 = 0) AS listed,
               CASE CAST(o_orderkey % 4 AS INTEGER)
                    WHEN 0 THEN CAST(3.0 AS DOUBLE)
                    WHEN 3 THEN CAST(10.0 AS DOUBLE) END AS age,
               CASE WHEN o_orderkey % 7 = 0
                    THEN 'subordinated_debt' END AS subtype
        FROM orders
    ), hr AS (
        SELECT *,
               (spec OR (pe AND NOT listed
                         AND (age IS NULL OR age < 5.0))) AS is_hr,
               (subtype = 'subordinated_debt') IS TRUE AS excluded
        FROM eq
    ), floored AS (
        -- 2028-06-30 resolves the 2028 step: std 1.90 / higher-risk 2.80;
        -- assigned B3.1 SA: speculative 4.00 else 2.50
        SELECT *,
               CASE WHEN excluded THEN CAST(0.0 AS DOUBLE)
                    WHEN is_hr THEN CAST(2.80 AS DOUBLE)
                    ELSE CAST(1.90 AS DOUBLE) END AS trans_rw,
               CAST(CASE WHEN spec THEN 4.0 ELSE 2.5 END AS DOUBLE)
                   AS assigned_rw
        FROM hr
    )
    SELECT CASE WHEN spec THEN 'speculative' ELSE 'standard' END
               AS equity_type,
           is_hr AS equity_higher_risk,
           'sa_transitional' AS equity_transitional_approach,
           count(*) AS n_rows,
           sum(CAST(floor(trans_rw * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS floor_rw_sum,
           sum(CAST(floor((mv * greatest(assigned_rw, trans_rw)) * 100.0
                          + 0.5) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_rwa
    FROM floored GROUP BY 1, 2, 3
"""


@query(
    "equity_transitional",
    oracle=_EQ_TRANSITIONAL_ORACLE,
    tags=("engine", "equity", "rwa"),
)
def equity_transitional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRA Rules 4.1-4.10 equity transitional floor through the REAL B3.1
    branch at reporting date 2028-06-30 (the 2028 step: standard 1.90,
    higher-risk 2.80): risk_weight = max(assigned SA weight, transitional),
    higher-risk = speculative or young unlisted PE (Art.133(4), null age
    conservative), subordinated debt carved out at a 0.0 floor (Rule
    4.2/4.3). Grouped by type × higher-risk × the sealed
    equity_transitional_approach carrier (ref calculator.py:1023-1127)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.limit(1).select(
        F.lit("L_FILL").alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.lit(100.0).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    ok = F.col("o_orderkey")
    equity = o.select(
        F.concat(F.lit("E"), ok).alias("exposure_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("market_value"),
        (ok % 2 == 0).alias("is_exchange_traded"),
        (ok % 3 == 0).alias("is_speculative"),
        (ok % 5 == 0).alias("is_diversified_pe"),
        F.when(ok % 4 == 0, 3.0)
        .when(ok % 4 == 3, 10.0)
        .cast("double")
        .alias("business_age_years"),
        F.when(ok % 7 == 0, "subordinated_debt").alias("equity_subtype"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, equity_exposures=equity),
        PipelineConfig(
            pack=B31_PACK, reporting_date="2028-06-30"
        ),
    )

    def fsum(col):
        return F.sum(F.floor(col * 100.0 + 0.5).cast("long")) / F.lit(100.0)

    return (
        out.results.where(F.col("exposure_class") == "equity")
        .groupBy("equity_type", "equity_higher_risk", "equity_transitional_approach")
        .agg(
            F.count("*").alias("n_rows"),
            fsum(F.col("equity_transitional_rw")).alias("floor_rw_sum"),
            fsum(F.col("rwa")).alias("total_rwa"),
        )
    )


# ---------------------------------------------------------------------------
# Supporting-factor decomposition ledger (ref CALCULATION_OUTPUT_SCHEMA
# sme_supporting_factor / infra_supporting_factor / supporting_factor_benefit
# + engine/supporting_factors.py get_effective_factor): the CRR2 Art.501
# tiered SME factor blended over the group drawn amount, the Art.501a
# infrastructure factor, most-beneficial min, and the RWEA saved.
# ---------------------------------------------------------------------------

_SF_LEDGER_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS ck, o_totalprice AS drawn
        FROM orders
    ), gd AS (
        SELECT ck, sum(CAST(round(drawn * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS group_drawn
        FROM loans GROUP BY ck
    ), priced AS (
        SELECT l.*,
               CASE WHEN l.ck % 3 = 0 THEN
                    (least(g.group_drawn, CAST(2500000.0 AS DOUBLE))
                         * CAST(0.7619 AS DOUBLE)
                     + greatest(g.group_drawn - CAST(2500000.0 AS DOUBLE),
                                CAST(0.0 AS DOUBLE)) * CAST(0.85 AS DOUBLE))
                    / g.group_drawn
                    ELSE CAST(1.0 AS DOUBLE) END AS sme_f,
               CASE WHEN l.ck % 4 = 0 THEN CAST(0.75 AS DOUBLE)
                    ELSE CAST(1.0 AS DOUBLE) END AS infra_f
        FROM loans l JOIN gd g ON l.ck = g.ck
    ), carriers AS (
        SELECT *,
               (drawn * CAST(0.5 AS DOUBLE)) AS rwa_before,
               (drawn * CAST(0.5 AS DOUBLE)) * least(sme_f, infra_f) AS rwa
        FROM priced
    )
    SELECT (sme_f < 1.0) AS sme_applied, (infra_f < 1.0) AS infra_applied,
           count(*) AS n_rows,
           sum(CAST(floor(rwa_before * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS rwa_before_sf,
           sum(CAST(floor(rwa * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS rwa_after,
           sum(CAST(floor((rwa_before - rwa) * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS sf_benefit,
           sum(CAST(floor(sme_f * 1000000.0 + 0.5) AS BIGINT))
               / CAST(1000000 AS DOUBLE) AS sme_factor_sum,
           sum(CAST(floor(infra_f * 1000000.0 + 0.5) AS BIGINT))
               / CAST(1000000 AS DOUBLE) AS infra_factor_sum
    FROM carriers GROUP BY 1, 2
"""


@query(
    "sa_supporting_factor_ledger",
    oracle=_SF_LEDGER_ORACLE,
    tags=("engine", "sa", "rwa"),
)
def sa_supporting_factor_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supporting-factor decomposition through the REAL SA pipeline: SME
    obligors (every 3rd cp, revenue under the Art.501 cap) price the
    tiered factor blended over the group drawn amount (0.7619 up to the
    2.5m threshold, 0.85 above); infrastructure obligors (every 4th cp)
    price Art.501a 0.75; overlapping books take the most-beneficial min —
    and the ledger seals each factor under its own name plus the RWEA the
    min saved. Aggregated by which factors applied."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.when(F.col("c_custkey") % 3 == 0, 30_000_000.0)
        .otherwise(60_000_000.0)
        .alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
        (F.col("c_custkey") % 4 == 0).alias("is_infrastructure"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )

    def fsum(col, scale=100.0):
        return F.sum(F.floor(col * scale + 0.5).cast("long")) / F.lit(scale)

    return out.results.groupBy(
        (F.col("sme_supporting_factor") < 1.0).alias("sme_applied"),
        (F.col("infra_supporting_factor") < 1.0).alias("infra_applied"),
    ).agg(
        F.count("*").alias("n_rows"),
        fsum(F.col("rwa_before_sf")).alias("rwa_before_sf"),
        fsum(F.col("rwa")).alias("rwa_after"),
        fsum(F.col("supporting_factor_benefit")).alias("sf_benefit"),
        fsum(F.col("sme_supporting_factor"), 1_000_000.0).alias("sme_factor_sum"),
        fsum(F.col("infra_supporting_factor"), 1_000_000.0).alias(
            "infra_factor_sum"
        ),
    )


_ONBAL_NETTING_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp,
               CASE WHEN o_orderkey % 7 = 0
                    THEN -0.25 * o_totalprice ELSE o_totalprice END AS drawn,
               CASE WHEN o_orderkey % 2 = 0
                    THEN 'NA' || o_custkey ELSE NULL END AS na,
               CASE WHEN o_orderkey % 21 = 0 THEN 'USD' ELSE 'GBP' END AS ccy,
               CAST(CASE WHEN o_orderkey % 7 = 0 THEN 1.5 ELSE 2.5 END
                    AS DOUBLE) AS mat,
               CASE WHEN o_custkey % 2 = 0 THEN 'corporate'
                    ELSE 'institution' END AS exposure_class
        FROM orders
    ), pools AS (
        SELECT na, cp, ccy AS pool_ccy,
               sum(CAST(round(-drawn * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS pool_value,
               min(mat) AS pool_mat
        FROM loans WHERE drawn < 0 AND na IS NOT NULL
        GROUP BY na, cp, ccy
    ), tot AS (
        SELECT na, cp,
               sum(CAST(round(drawn * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS tot_drawn
        FROM loans WHERE drawn > 0 AND na IS NOT NULL GROUP BY na, cp
    ), alloc AS (
        SELECT l.ok,
               p.pool_value * (l.drawn / t.tot_drawn) AS a,
               CASE WHEN p.pool_ccy <> l.ccy
                    THEN CAST(0.08 AS DOUBLE) ELSE 0.0 END AS fxh,
               CASE WHEN p.pool_mat >= l.mat THEN 1.0
                    WHEN p.pool_mat < 0.25 THEN 0.0
                    ELSE (p.pool_mat - 0.25)
                         / greatest(l.mat - 0.25, 1e-9) END AS mm
        FROM loans l
        JOIN tot t ON l.na = t.na AND l.cp = t.cp
        JOIN pools p ON l.na = p.na AND l.cp = p.cp
        WHERE l.drawn > 0
    ), per_exp AS (
        SELECT ok,
               sum(CAST(round(a * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS net_alloc,
               sum(CAST(round(a * (1 - fxh) * mm * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS net_adj,
               sum(CAST(round(a * fxh * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS net_fx,
               sum(CAST(round(a * (1 - fxh) * (1 - mm) * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS net_mm
        FROM alloc GROUP BY ok
    ), ledger AS (
        SELECT l.exposure_class,
               CASE WHEN l.drawn < 0 AND l.na IS NOT NULL
                    THEN 0.0 ELSE l.drawn END AS ead,
               coalesce(p.net_alloc, 0.0) AS net_alloc,
               coalesce(p.net_adj, 0.0) AS net_adj,
               coalesce(p.net_fx, 0.0) AS net_fx,
               coalesce(p.net_mm, 0.0) AS net_mm,
               greatest(
                   (CASE WHEN l.drawn < 0 AND l.na IS NOT NULL
                         THEN 0.0 ELSE l.drawn END)
                   - coalesce(p.net_adj, 0.0), 0.0) AS ead_after,
               CASE WHEN l.drawn < 0 AND l.na IS NOT NULL
                    THEN 1 ELSE 0 END AS n_deposit
        FROM loans l LEFT JOIN per_exp p ON l.ok = p.ok
    )
    SELECT exposure_class, count(*) AS n_rows,
           CAST(sum(n_deposit) AS BIGINT) AS n_deposits,
           sum(CAST(floor(net_alloc * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS onbal_netting,
           sum(CAST(floor(net_adj * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS collateral_value,
           sum(CAST(floor(net_fx * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS fx_haircut,
           sum(CAST(floor(net_mm * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS mm_haircut,
           sum(CAST(floor(ead * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS ead_total,
           sum(CAST(floor(ead_after * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS ead_after_crm
    FROM ledger GROUP BY 1
"""


@query(
    "onbal_netting_ledger",
    oracle=_ONBAL_NETTING_ORACLE,
    tags=("engine", "crm", "netting"),
)
def onbal_netting_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.195/219 on-balance-sheet netting through the REAL pipeline
    (ref engine/crm/collateral.py:170 generate_netting_collateral +
    processor.py:445 _join_netting_amounts): every 7th order is a deposit
    (negative drawn); even orders participate in their counterparty's
    netting agreement. Participating deposits pool per (agreement,
    counterparty, currency) — USD deposits (every 21st order) price the 8%
    FX haircut against the GBP loan book — carry the earliest deposit
    maturity (1.5y vs 2.5y loans → the Art.238-239 factor), allocate
    pro-rata by drawn in exact cents, ride FCCM as synthetic cash
    collateral, and seal on_bs_netting_amount; participating deposit legs
    leave the RWA base (EAD 0). Aggregated by exposure_class."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 2 == 0, "corporate")
        .otherwise("institution")
        .alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.when(
            F.col("o_orderkey") % 7 == 0, -0.25 * F.col("o_totalprice")
        )
        .otherwise(F.col("o_totalprice"))
        .alias("drawn_amount"),
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.concat(F.lit("NA"), F.col("o_custkey")),
        ).alias("netting_agreement_reference"),
        F.when(F.col("o_orderkey") % 21 == 0, "USD")
        .otherwise("GBP")
        .alias("currency"),
        F.when(F.col("o_orderkey") % 7 == 0, 1.5)
        .otherwise(2.5)
        .alias("effective_maturity"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )

    def fsum(col):
        return F.sum(F.floor(col * 100.0 + 0.5).cast("long")) / F.lit(100.0)

    return out.results.groupBy("exposure_class").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(
                (F.col("drawn_amount") < 0)
                & F.col("netting_agreement_reference").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_deposits"),
        fsum(F.col("on_bs_netting_amount")).alias("onbal_netting"),
        fsum(F.col("collateral_value")).alias("collateral_value"),
        fsum(F.col("haircut_fx")).alias("fx_haircut"),
        fsum(F.col("haircut_maturity_mismatch")).alias("mm_haircut"),
        fsum(F.col("ead")).alias("ead_total"),
        fsum(F.col("ead_after_crm")).alias("ead_after_crm"),
    )


_MULTI_GTEE_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS drawn
        FROM orders
    ), gtees AS (
        SELECT ok, 'G1_' || ok AS gref, 'sovereign' AS gclass, 1 AS gcqs,
               CAST(0.0 AS DOUBLE) AS grw,
               -- binary-exact eighths: both engines hold identical
               -- coverage bits, so rw and price*rw round identically
               CAST(0.5 + (ok % 4) * 0.125 AS DOUBLE) AS cov
        FROM loans WHERE ok % 3 = 0
        UNION ALL
        SELECT ok, 'G2_' || ok, 'institution', 2, CAST(0.5 AS DOUBLE),
               CAST(0.375 + (ok % 5) * 0.125 AS DOUBLE)
        FROM loans WHERE ok % 6 = 0
        UNION ALL
        SELECT ok, 'G3_' || ok, 'corporate', 3, CAST(1.0 AS DOUBLE),
               CAST(0.25 AS DOUBLE)
        FROM loans WHERE ok % 12 = 0
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY ok ORDER BY cov DESC, gclass, gref
               ) AS rn,
               sum(cov) OVER (
                   PARTITION BY ok ORDER BY cov DESC, gclass, gref
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM gtees
    ), sliced AS (
        SELECT ok, rn, grw,
               greatest(least(cov, 1.0 - (cum - cov)), 0.0) AS sl
        FROM ranked
    ), folded AS (
        -- ordered left-to-right additions mirror the engine's
        -- priority-ordered array fold bit-for-bit (a bare SUM() may
        -- accumulate in any order; n <= 3 by construction)
        SELECT ok, count(*) AS n_g,
               ((coalesce(max(CASE WHEN rn = 1 THEN sl END), 0.0)
                 + coalesce(max(CASE WHEN rn = 2 THEN sl END), 0.0))
                 + coalesce(max(CASE WHEN rn = 3 THEN sl END), 0.0))
                   AS g_total,
               ((coalesce(max(CASE WHEN rn = 1
                              THEN sl * least(1.5, grw) END), 0.0)
                 + coalesce(max(CASE WHEN rn = 2
                              THEN sl * least(1.5, grw) END), 0.0))
                 + coalesce(max(CASE WHEN rn = 3
                              THEN sl * least(1.5, grw) END), 0.0))
                   AS sub_term,
               max(CASE WHEN rn = 1 THEN sl END) AS sl1,
               max(CASE WHEN rn = 1 THEN grw END) AS grw1
        FROM sliced GROUP BY ok
    ), ledger AS (
        SELECT l.ok, l.drawn,
               coalesce(f.n_g, 0) AS n_guarantees,
               CASE WHEN f.ok IS NULL THEN 1.5
                    WHEN f.n_g = 1
                    THEN f.sub_term + (1.0 - f.g_total) * 1.5
                    ELSE f.sub_term + (1.0 - f.g_total) * 1.5 END AS rw,
               coalesce(f.g_total, 0.0) * l.drawn AS gportion,
               -- n=1 mirrors the engine's legacy association
               -- g·(own − g_rw); the stack uses the closed form
               CASE WHEN f.ok IS NULL THEN 0.0
                    WHEN f.n_g = 1
                    THEN f.sl1 * (1.5 - least(1.5, f.grw1))
                    ELSE greatest(f.g_total * 1.5 - f.sub_term, 0.0)
               END AS benefit_rw
        FROM loans l LEFT JOIN folded f ON l.ok = f.ok
    )
    SELECT CAST(n_guarantees AS INTEGER) AS n_guarantees,
           count(*) AS n_rows,
           sum(CAST(floor(rw * 1000000.0 + 0.5) AS BIGINT))
               / CAST(1000000 AS DOUBLE) AS rw_sum,
           sum(CAST(floor(gportion * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS guaranteed_portion,
           sum(CAST(floor(benefit_rw * 1000000.0 + 0.5) AS BIGINT))
               / CAST(1000000 AS DOUBLE) AS benefit_rw_sum,
           sum(CAST(floor(drawn * rw * 100.0 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS rwa
    FROM ledger GROUP BY 1
"""


@query(
    "crm_multi_guarantee",
    oracle=_MULTI_GTEE_ORACLE,
    tags=("engine", "crm", "tolerant"),
)
def crm_multi_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stacked multi-guarantee substitution through the REAL pipeline
    (closes the single-guarantee narrowing; ref engine/irb/guarantee.py
    multi-leg waterfall re-expressed on-row): up to three guarantees per
    exposure — sovereign CQS1 (0%), institution CQS2 (50%), corporate CQS3
    (100%) against a 150% unrated... rated-CQS5 corporate book — stack in
    priority order (post-haircut coverage desc, class, reference), each
    claiming the still-uncovered slice capped at 100%; the effective
    weight folds Σ slice·least(own, guarantor_rw) + uncovered·own, and
    guarantee_benefit_rw seals the stack's isolated RW relief. Grouped by
    the number of stacked guarantees (0/1/2/3)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(5).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )

    def _g(pred, tag, gclass, gcqs, cov):
        return o.where(pred).select(
            F.concat(F.lit(tag), F.col("o_orderkey")).alias("guarantee_reference"),
            F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
            cov.alias("coverage_pct"),
            F.lit(gclass).alias("guarantor_class"),
            F.lit(gcqs).cast("int").alias("guarantor_cqs"),
            F.concat(F.lit("GTOR_"), F.col("o_orderkey")).alias(
                "guarantor_reference"
            ),
        )

    gtees = (
        _g(
            F.col("o_orderkey") % 3 == 0, "G1_", "sovereign", 1,
            0.5 + (F.col("o_orderkey") % 4).cast("double") * 0.125,
        )
        .unionByName(
            _g(
                F.col("o_orderkey") % 6 == 0, "G2_", "institution", 2,
                0.375 + (F.col("o_orderkey") % 5).cast("double") * 0.125,
            )
        )
        .unionByName(
            _g(F.col("o_orderkey") % 12 == 0, "G3_", "corporate", 3, F.lit(0.25))
        )
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, guarantees=gtees),
        PipelineConfig(pack=CRR_PACK),
    )

    def fsum(col, scale=100.0):
        return F.sum(F.floor(col * scale + 0.5).cast("long")) / F.lit(scale)

    return out.results.groupBy(
        F.coalesce(F.size("guarantee_references"), F.lit(0))
        .cast("int")
        .alias("n_guarantees")
    ).agg(
        F.count("*").alias("n_rows"),
        fsum(F.col("risk_weight"), 1_000_000.0).alias("rw_sum"),
        fsum(F.col("guaranteed_portion")).alias("guaranteed_portion"),
        fsum(F.col("guarantee_benefit_rw"), 1_000_000.0).alias("benefit_rw_sum"),
        fsum(F.col("rwa")).alias("rwa"),
    )


# ---------------------------------------------------------------------------
# IRB multi-guarantee stacking (closes the rank-1 narrowing; ref
# engine/irb/guarantee.py multi-leg waterfall): up to three guarantees per
# IRB exposure — a sovereign SA leg, a senior modelled institution leg
# (parameter substitution through the full Vasicek kernel), a subordinated
# modelled corporate leg (Art.161(1) 75% LGD) — stack in priority order;
# each covered slice takes min(own, leg RW) per Art.193(1) and the EL
# follows each leg's channel. The oracle independently re-derives every
# leg's kernel (acklam/halley/correlation/K staged at the LEG grain) and
# folds the priority-ordered terms with explicit left-to-right additions so
# the sums match the engine's ordered array fold bit-for-bit. Every kernel
# input is band-constant on (ok%24, ck%5), so per-band min() is exact.
# ---------------------------------------------------------------------------


def _irb_multi_gtee_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum
    from rwa_calculator_spark.functions.irb import (
        sql_capital_k_r,
        sql_correlation,
        sql_maturity_adj,
    )
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    sa_rw = """CASE gclass
        WHEN 'institution' THEN CASE gcqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
            WHEN 3 THEN 0.5 WHEN 4 THEN 1.0 ELSE 1.0 END
        WHEN 'corporate' THEN CASE gcqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
            WHEN 3 THEN 1.0 WHEN 4 THEN 1.0 ELSE 1.5 END
        ELSE CASE gcqs WHEN 1 THEN 0.0 WHEN 2 THEN 0.2 WHEN 3 THEN 0.5
            WHEN 4 THEN 1.0 ELSE 1.0 END END"""
    return f"""
    WITH base AS (
        SELECT o_orderkey AS ok, o_custkey AS ck, o_totalprice AS price
        FROM orders
    ), ob AS (
        SELECT ok, ck, price,
               CAST(ok % 24 AS INTEGER) AS band_ok,
               CAST(ck % 5 AS INTEGER) AS band_ck,
               greatest(coalesce(CAST(1 + ok % 8 AS DOUBLE) / 100.0, 1.0),
                        0.0003) AS pd_fl,
               (0.25 + CAST(ok % 2 AS DOUBLE) * 0.20) AS lgd,
               CAST(2.5 AS DOUBLE) AS m
        FROM base
    ), ob1 AS (
        SELECT *, {sql_acklam_raw('pd_fl')} AS x0 FROM ob
    ), ob2 AS (
        SELECT *, {sql_halley_step('x0', 'pd_fl')} AS gq,
               {sql_correlation('pd_fl')} AS r
        FROM ob1
    ), ob3 AS (
        SELECT *, {sql_capital_k_r('pd_fl', 'lgd', 'gq', 'r')} AS k,
               {sql_maturity_adj('pd_fl', 'm')} AS ma
        FROM ob2
    ), own AS (
        SELECT ok, ck, price, band_ok, band_ck, pd_fl, lgd,
               (((k * ma) * 12.5) * 1.06) AS rw_own
        FROM ob3
    ), legs0 AS (
        SELECT ok, 'G1_' || ok AS gref, 'sovereign' AS gclass, 1 AS gcqs,
               CAST(NULL AS DOUBLE) AS gpd, 'senior' AS sen,
               CAST(0.5 + (ok % 4) * 0.125 AS DOUBLE) AS cov
        FROM base WHERE ok % 3 = 0
        UNION ALL
        SELECT ok, 'G2_' || ok, 'institution', 2,
               CAST(1 + ck % 5 AS DOUBLE) / 1000.0, 'senior',
               CAST(0.375 + (ok % 4) * 0.125 AS DOUBLE)
        FROM base WHERE ok % 6 = 0
        UNION ALL
        SELECT ok, 'G3_' || ok, 'corporate', 4,
               CAST(2 + ck % 5 AS DOUBLE) / 1000.0, 'subordinated',
               CAST(0.25 AS DOUBLE)
        FROM base WHERE ok % 12 = 0
    ), l1 AS (
        SELECT *, CASE WHEN gpd IS NOT NULL
                       THEN greatest(gpd, 0.0003) END AS pdg,
               CASE sen WHEN 'subordinated' THEN 0.75 ELSE 0.45 END AS lgdg,
               CAST(2.5 AS DOUBLE) AS gm
        FROM legs0
    ), l2 AS (
        SELECT *, {sql_acklam_raw('pdg')} AS x0g FROM l1
    ), l3 AS (
        SELECT *, {sql_halley_step('x0g', 'pdg')} AS gqg,
               {sql_correlation('pdg')} AS rg
        FROM l2
    ), l4 AS (
        SELECT *, {sql_capital_k_r('pdg', 'lgdg', 'gqg', 'rg')} AS kg,
               {sql_maturity_adj('pdg', 'gm')} AS mag
        FROM l3
    ), legs AS (
        SELECT ok, gref, gclass, cov, pdg, lgdg,
               CASE WHEN pdg IS NOT NULL THEN (((kg * mag) * 12.5) * 1.06)
                    ELSE ({sa_rw}) END AS rw_leg
        FROM l4
    ), ranked AS (
        SELECT g.*, w.rw_own, (w.pd_fl * w.lgd) AS rate_own,
               row_number() OVER (
                   PARTITION BY g.ok ORDER BY g.cov DESC, g.gclass, g.gref
               ) AS rn,
               sum(g.cov) OVER (
                   PARTITION BY g.ok ORDER BY g.cov DESC, g.gclass, g.gref
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM legs g JOIN own w ON g.ok = w.ok
    ), sliced AS (
        SELECT ok, rn, rw_own, rate_own, rw_leg, pdg, lgdg,
               greatest(least(cov, 1.0 - (cum - cov)), 0.0) AS sl
        FROM ranked
    ), terms AS (
        SELECT ok, rn, rw_own, rate_own,
               (sl * least(rw_own, coalesce(rw_leg, rw_own))) AS ct,
               CASE WHEN rw_leg < rw_own THEN
                        CASE WHEN pdg IS NOT NULL THEN ((sl * pdg) * lgdg)
                             ELSE 0.0 END
                    ELSE (sl * rate_own) END AS elt,
               sl, rw_leg
        FROM sliced
    ), folded AS (
        -- explicit left-to-right additions mirror the engine's ordered
        -- array fold bit-for-bit (n <= 3 by construction)
        SELECT ok, count(*) AS n_g,
               ((coalesce(max(CASE WHEN rn = 1 THEN sl END), 0.0)
                 + coalesce(max(CASE WHEN rn = 2 THEN sl END), 0.0))
                 + coalesce(max(CASE WHEN rn = 3 THEN sl END), 0.0)) AS g_total,
               ((coalesce(max(CASE WHEN rn = 1 THEN ct END), 0.0)
                 + coalesce(max(CASE WHEN rn = 2 THEN ct END), 0.0))
                 + coalesce(max(CASE WHEN rn = 3 THEN ct END), 0.0)) AS t,
               ((coalesce(max(CASE WHEN rn = 1 THEN elt END), 0.0)
                 + coalesce(max(CASE WHEN rn = 2 THEN elt END), 0.0))
                 + coalesce(max(CASE WHEN rn = 3 THEN elt END), 0.0)) AS elf,
               max(CASE WHEN rn = 1 THEN sl END) AS sl1,
               max(CASE WHEN rn = 1 THEN rw_leg END) AS rw1
        FROM terms GROUP BY ok
    ), ledger AS (
        SELECT w.band_ok, w.band_ck, w.price,
               coalesce(f.n_g, 0) AS n_guarantees,
               CASE WHEN f.ok IS NULL THEN w.rw_own
                    WHEN f.n_g = 1 THEN
                        -- legacy rank-1 blend (sovereign SA leg only at n=1)
                        ((1.0 - f.sl1) * w.rw_own) + (f.sl1 * f.rw1)
                    ELSE f.t + ((1.0 - f.g_total) * w.rw_own) END AS rw,
               CASE WHEN f.ok IS NULL THEN ((w.pd_fl * w.lgd) * w.price)
                    WHEN f.n_g = 1 THEN
                        -- n=1 sovereign leg is always beneficial (rw 0):
                        -- legacy sub_sa EL = (1-g) * el_own
                        ((1.0 - f.sl1) * ((w.pd_fl * w.lgd) * w.price))
                    ELSE (f.elf + ((1.0 - f.g_total) * (w.pd_fl * w.lgd)))
                         * w.price END AS el
        FROM own w LEFT JOIN folded f ON w.ok = f.ok
    )
    SELECT band_ok, band_ck, CAST(n_guarantees AS INTEGER) AS n_guarantees,
           count(*) AS n_rows,
           round(min(rw), 8) AS rw,
           round(min(rw) * ({sql_scaled_sum('price', 2)}), 2) AS rwa,
           round(min(el / price) * ({sql_scaled_sum('price', 2)}), 2) AS el_amt
    FROM ledger GROUP BY 1, 2, 3
    """


@query(
    "irb_multi_guarantee",
    oracle=_irb_multi_gtee_oracle(),
    tags=("engine", "irb", "crm", "tolerant"),
)
def irb_multi_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stacked multi-guarantee protection on the IRB channel through the
    REAL pipeline (closes the rank-1 narrowing; ref engine/irb/guarantee.py
    multi-leg waterfall): sovereign SA leg + senior modelled institution
    leg (parameter substitution, full Vasicek with the guarantor's floored
    PD) + subordinated modelled corporate leg (Art.161(1) 75% LGD) stack
    in priority order over a corporate A-IRB book; each covered slice is
    neutral-or-beneficial per Art.193(1) and the EL follows each leg's
    channel (PD-substituted slices re-price at PD_g·LGD_g, SA-substituted
    slices drop EL, uncovered keeps the obligor rate). Single-guarantee
    rows price through the legacy rank-1 blend — pinned here too."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(3).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(2.0e8).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        ((1 + F.col("o_orderkey") % 8).cast("double") / F.lit(100.0)).alias("pd"),
        (F.lit(0.25) + (F.col("o_orderkey") % 2).cast("double") * F.lit(0.20)).alias(
            "lgd"
        ),
        F.lit(2.5).alias("effective_maturity"),
    )

    def _g(pred, tag, gclass, gcqs, cov, gpd, sen):
        return o.where(pred).select(
            F.concat(F.lit(tag), F.col("o_orderkey")).alias("guarantee_reference"),
            F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
            cov.alias("coverage_pct"),
            F.lit(gclass).alias("guarantor_class"),
            F.lit(gcqs).cast("int").alias("guarantor_cqs"),
            F.concat(F.lit("GTOR_"), F.col("o_orderkey")).alias(
                "guarantor_reference"
            ),
            gpd.alias("guarantor_pd"),
            F.lit(sen).alias("guarantor_seniority"),
        )

    eighth = (F.col("o_orderkey") % 4).cast("double") * 0.125
    gtees = (
        _g(
            F.col("o_orderkey") % 3 == 0, "G1_", "sovereign", 1,
            F.lit(0.5) + eighth, F.lit(None).cast("double"), "senior",
        )
        .unionByName(
            _g(
                F.col("o_orderkey") % 6 == 0, "G2_", "institution", 2,
                F.lit(0.375) + eighth,
                (1 + F.col("o_custkey") % 5).cast("double") / F.lit(1000.0),
                "senior",
            )
        )
        .unionByName(
            _g(
                F.col("o_orderkey") % 12 == 0, "G3_", "corporate", 4,
                F.lit(0.25),
                (2 + F.col("o_custkey") % 5).cast("double") / F.lit(1000.0),
                "subordinated",
            )
        )
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, guarantees=gtees),
        PipelineConfig(pack=CRR_PACK),
    )
    keys = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        (F.col("o_orderkey") % 24).cast("int").alias("band_ok"),
        (F.col("o_custkey") % 5).cast("int").alias("band_ck"),
    )
    r = out.results.join(keys, "exposure_reference")
    return r.groupBy(
        "band_ok",
        "band_ck",
        F.coalesce(F.size("guarantee_references"), F.lit(0))
        .cast("int")
        .alias("n_guarantees"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("risk_weight"), 8).alias("rw"),
        F.round(
            F.min("risk_weight") * scaled_sum(F.col("ead_after_crm"), 2), 2
        ).alias("rwa"),
        F.round(
            F.min(F.col("expected_loss") / F.col("ead_after_crm"))
            * scaled_sum(F.col("ead_after_crm"), 2),
            2,
        ).alias("el_amt"),
    )


# ---------------------------------------------------------------------------
# Per-class IRB PD floors + A-IRB LGD input floors under B3.1 (ref
# engine/irb/formulas.py _pd_floor_expression / _lgd_floor_expression +
# rulebook/packs/b31.py pd_floors / lgd_floors; PS1/26 Art.160(1)/163(1) +
# Art.161(5)/164(4), BCBS CRE30.55-56): retail mortgages and QRRE revolvers
# floor PD at 0.10% (transactors and everything else 0.05%); A-IRB LGDs
# floor at 25% corporate / 5% RRE / 50% QRRE / 30% other retail. The book
# spans sovereign / corporate / retail-mortgage / QRRE(transactor+revolver)
# obligors with PDs straddling every floor and LGDs straddling every LGD
# floor; the oracle re-derives the whole routing and the per-class Vasicek.
# ---------------------------------------------------------------------------


def _irb_floor_routing_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum
    from rwa_calculator_spark.functions.irb import (
        sql_capital_k_r,
        sql_correlation,
        sql_correlation_other_retail,
        sql_maturity_adj,
    )
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    return f"""
    WITH base AS (
        SELECT o_orderkey AS ok, o_custkey AS ck,
               o_totalprice / 1000.0 AS ead
        FROM orders
    ), classified AS (
        SELECT *,
               CASE CAST(ck % 4 AS INTEGER)
                    WHEN 0 THEN 'sovereign' WHEN 1 THEN 'corporate'
                    ELSE 'retail' END AS exposure_class,
               CASE CAST(ck % 4 AS INTEGER)
                    WHEN 2 THEN 'mortgage'
                    WHEN 3 THEN CASE WHEN ck % 8 = 3 THEN 'qrre_t'
                                     ELSE 'qrre_r' END END AS subtype,
               (0.0001 + CAST(ok % 6 AS DOUBLE) * 0.0002) AS pd_raw,
               (0.05 + CAST(ok % 5 AS DOUBLE) * 0.10) AS lgd_raw,
               CAST(2.5 AS DOUBLE) AS m
        FROM base
    ), floored AS (
        SELECT *,
               greatest(pd_raw, CASE
                   WHEN exposure_class = 'sovereign' THEN 0.0005
                   WHEN subtype = 'mortgage' THEN 0.0010
                   WHEN subtype = 'qrre_r' THEN 0.0010
                   ELSE 0.0005 END) AS pd_f,
               greatest(lgd_raw, CASE
                   WHEN subtype = 'mortgage' THEN 0.05
                   WHEN subtype IN ('qrre_t', 'qrre_r') THEN 0.50
                   WHEN exposure_class = 'retail' THEN 0.30
                   ELSE 0.25 END) AS lgd_f
        FROM classified
    ), g1 AS (
        SELECT *, {sql_acklam_raw('pd_f')} AS x0 FROM floored
    ), g2 AS (
        SELECT * EXCLUDE (x0), {sql_halley_step('x0', 'pd_f')} AS g_pd FROM g1
    ), routed AS (
        SELECT *,
               CASE WHEN subtype = 'mortgage' THEN 0.15
                    WHEN subtype IN ('qrre_t', 'qrre_r') THEN 0.04
                    WHEN exposure_class = 'retail'
                        THEN {sql_correlation_other_retail('pd_f')}
                    ELSE {sql_correlation('pd_f')} END AS r_c
        FROM g2
    ), k AS (
        SELECT *, {sql_capital_k_r('pd_f', 'lgd_f', 'g_pd', 'r_c')} AS kv
        FROM routed
    ), priced AS (
        -- B3.1: scaling 1.0; retail takes no maturity adjustment
        SELECT exposure_class, subtype, ok, ck, ead, pd_f, lgd_f,
               (kv * CASE WHEN exposure_class = 'retail' THEN 1.0
                          ELSE {sql_maturity_adj('pd_f', 'm')} END * 12.5)
                   AS rw
        FROM k
    )
    SELECT exposure_class, coalesce(subtype, '-') AS subtype,
           CAST(ok % 6 AS INTEGER) AS band_pd,
           CAST(ok % 5 AS INTEGER) AS band_lgd,
           count(*) AS n_rows,
           round(min(pd_f), 8) AS pd_floored,
           round(min(lgd_f), 8) AS lgd_floored,
           round(min(rw), 8) AS rw,
           round(min(rw) * ({sql_scaled_sum('ead', 2)}), 2) AS rwa
    FROM priced GROUP BY 1, 2, 3, 4
    """


@query(
    "irb_floor_routing",
    oracle=_irb_floor_routing_oracle(),
    tags=("engine", "irb", "tolerant"),
)
def irb_floor_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class B3.1 IRB parameter floors through the REAL pipeline (ref
    engine/irb/formulas.py _pd_floor_expression / _lgd_floor_expression;
    PS1/26 Art.160(1)/163(1) + Art.161(5)/164(4)): sovereign / corporate /
    retail-mortgage / QRRE transactor+revolver obligors with PDs straddling
    the 0.05% and 0.10% floors and modelled LGDs straddling the 25% / 5% /
    50% / 30% A-IRB floors — the oracle re-derives the full routing, the
    subtype-specific correlations, and the retail no-MA Vasicek."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ckm = (F.col("c_custkey") % 4).cast("int")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(ckm == 0, "sovereign")
        .when(ckm == 1, "corporate")
        .otherwise("individual")
        .alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        (ckm >= 2).alias("is_managed_as_retail"),
        F.lit(2.0e8).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
        F.when(ckm == 2, "mortgage")
        .when(ckm == 3, "qrre")
        .alias("retail_subtype"),
        F.when(ckm == 3, F.col("c_custkey") % 8 == 3).alias("is_qrre_transactor"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        (F.col("o_totalprice") / F.lit(1000.0)).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        (F.lit(0.0001) + (F.col("o_orderkey") % 6).cast("double") * F.lit(0.0002)).alias(
            "pd"
        ),
        (F.lit(0.05) + (F.col("o_orderkey") % 5).cast("double") * F.lit(0.10)).alias(
            "lgd"
        ),
        F.lit(2.5).alias("effective_maturity"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=B31_PACK),
    )
    _km = (F.col("o_custkey") % 4).cast("int")
    keys = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        (F.col("o_orderkey") % 6).cast("int").alias("band_pd"),
        (F.col("o_orderkey") % 5).cast("int").alias("band_lgd"),
        # the ledger seal drops the routing inputs — re-derive the subtype
        # band from the SAME custkey mapping the book used
        F.when(_km == 2, "mortgage")
        .when(
            _km == 3,
            F.when(F.col("o_custkey") % 8 == 3, "qrre_t").otherwise("qrre_r"),
        )
        .otherwise("-")
        .alias("subtype"),
    )
    r = out.results.join(keys, "exposure_reference")
    return r.groupBy(
        "exposure_class",
        "subtype",
        "band_pd",
        "band_lgd",
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("irb_pd_floored"), 8).alias("pd_floored"),
        F.round(F.min("irb_lgd_floored"), 8).alias("lgd_floored"),
        F.round(F.min("risk_weight"), 8).alias("rw"),
        F.round(
            F.min("risk_weight") * scaled_sum(F.col("ead_after_crm"), 2), 2
        ).alias("rwa"),
    )


# ---------------------------------------------------------------------------
# CRR Art.147(3)/(4)(b) IRB class equivalence (ref rulebook/packs/common.py
# entity_type_to_irb_class + data/schemas.py RGLA_PSE_ENTITY_TYPES — the
# reference rewrites the post-approach exposure_class so the IRB calculator
# sees CGCB / INSTITUTION rather than RGLA / PSE / MDB): MDBs and
# international organisations take the central-government IRB treatment —
# under CRR that means NO PD floor (Art.160(1) reaches corporates and
# institutions only); the institution-leg RGLA/PSE classes take the
# institution treatment (floored 0.03%). The book spans every mapped entity
# type with PDs straddling the 0.03% floor; the oracle re-derives the
# mapping, the class-routed floor, and the corporate-curve Vasicek.
# ---------------------------------------------------------------------------


def _irb_class_equivalence_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum
    from rwa_calculator_spark.functions.irb import (
        sql_capital_k_r,
        sql_correlation,
        sql_maturity_adj,
    )
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    return f"""
    WITH base AS (
        SELECT o_orderkey AS ok, o_custkey AS ck,
               o_totalprice / 1000.0 AS ead,
               (0.0001 + CAST(o_orderkey % 6 AS DOUBLE) * 0.0002) AS pd_raw,
               CAST(0.45 AS DOUBLE) AS lgd,
               CAST(2.5 AS DOUBLE) AS m
        FROM orders
    ), classified AS (
        SELECT *,
               CASE CAST(ck % 7 AS INTEGER)
                    WHEN 0 THEN 'pse' WHEN 1 THEN 'mdb' WHEN 2 THEN 'mdb_named'
                    WHEN 3 THEN 'international_organisation'
                    WHEN 4 THEN 'rgla' WHEN 5 THEN 'rgla_sovereign'
                    ELSE 'corporate' END AS entity
        FROM base
    ), mapped AS (
        -- classify: rgla_sovereign -> sovereign; mdb/mdb_named -> mdb;
        -- then Art.147(3)/(4)(b): mdb + international_organisation -> CGCB,
        -- pse + rgla (institution legs) -> institution
        SELECT *,
               CASE WHEN entity IN ('mdb', 'mdb_named') THEN 'mdb'
                    WHEN entity = 'rgla_sovereign' THEN 'sovereign'
                    ELSE entity END AS exposure_class,
               CASE WHEN entity IN ('mdb', 'mdb_named',
                                    'international_organisation',
                                    'rgla_sovereign') THEN 'sovereign'
                    WHEN entity IN ('pse', 'rgla') THEN 'institution'
                    ELSE 'corporate' END AS irb_class
        FROM classified
    ), floored AS (
        SELECT *,
               CAST(CASE WHEN irb_class = 'sovereign' THEN 0.0
                         ELSE 0.0003 END AS DOUBLE) AS pd_floor,
               greatest(pd_raw, CASE WHEN irb_class = 'sovereign' THEN 0.0
                                     ELSE 0.0003 END) AS pd_f
        FROM mapped
    ), g1 AS (
        SELECT *, {sql_acklam_raw('pd_f')} AS x0 FROM floored
    ), g2 AS (
        SELECT * EXCLUDE (x0), {sql_halley_step('x0', 'pd_f')} AS g_pd,
               {sql_correlation('pd_f')} AS r_c
        FROM g1
    ), k AS (
        SELECT *, {sql_capital_k_r('pd_f', 'lgd', 'g_pd', 'r_c')} AS kv
        FROM g2
    ), priced AS (
        -- CRR: x1.06 scaling, corporate-curve MA for every non-retail class
        SELECT entity, exposure_class, ok, ck, ead, pd_floor, pd_f,
               (kv * {sql_maturity_adj('pd_f', 'm')} * 12.5 * 1.06) AS rw
        FROM k
    )
    SELECT entity, exposure_class,
           CAST(ok % 6 AS INTEGER) AS band_pd,
           count(*) AS n_rows,
           round(min(pd_floor), 8) AS pd_floor,
           round(min(pd_f), 8) AS pd_floored,
           round(min(rw), 8) AS rw,
           round(min(rw) * ({sql_scaled_sum('ead', 2)}), 2) AS rwa
    FROM priced GROUP BY 1, 2, 3
    """


@query(
    "irb_class_equivalence",
    oracle=_irb_class_equivalence_oracle(),
    tags=("engine", "irb", "tolerant"),
)
def irb_class_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.147(3)/(4)(b) IRB class equivalence through the REAL pipeline
    (ref rulebook/packs/common.py entity_type_to_irb_class +
    engine/entity_class_maps.py): MDB / named-MDB / international-
    organisation obligors route onto the central-government IRB treatment
    (CRR: unfloored PD), institution-leg RGLA/PSE obligors onto the
    institution treatment (0.03% floor), sovereign-equivalent RGLAs having
    already classified as sovereign — with PDs straddling the floor so the
    mapping is value-visible, and the SA exposure_class untouched on the
    ledger."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ck7 = (F.col("c_custkey") % 7).cast("int")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(ck7 == 0, "pse")
        .when(ck7 == 1, "mdb")
        .when(ck7 == 2, "mdb_named")
        .when(ck7 == 3, "international_organisation")
        .when(ck7 == 4, "rgla")
        .when(ck7 == 5, "rgla_sovereign")
        .otherwise("corporate")
        .alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(2.0e8).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        (F.col("o_totalprice") / F.lit(1000.0)).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        (
            F.lit(0.0001)
            + (F.col("o_orderkey") % 6).cast("double") * F.lit(0.0002)
        ).alias("pd"),
        F.lit(0.45).alias("lgd"),
        F.lit(2.5).alias("effective_maturity"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )
    _k7 = (F.col("o_custkey") % 7).cast("int")
    keys = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.when(_k7 == 0, "pse")
        .when(_k7 == 1, "mdb")
        .when(_k7 == 2, "mdb_named")
        .when(_k7 == 3, "international_organisation")
        .when(_k7 == 4, "rgla")
        .when(_k7 == 5, "rgla_sovereign")
        .otherwise("corporate")
        .alias("entity"),
        (F.col("o_orderkey") % 6).cast("int").alias("band_pd"),
    )
    r = out.results.join(keys, "exposure_reference")
    return r.groupBy("entity", "exposure_class", "band_pd").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("irb_pd_floor"), 8).alias("pd_floor"),
        F.round(F.min("irb_pd_floored"), 8).alias("pd_floored"),
        F.round(F.min("risk_weight"), 8).alias("rw"),
        F.round(
            F.min("risk_weight") * scaled_sum(F.col("ead_after_crm"), 2), 2
        ).alias("rwa"),
    )


# ---------------------------------------------------------------------------
# CRR Art.161(1)(e)/(f)/(g) purchased-receivables F-IRB supervisory LGDs
# (ref engine/irb/transforms.py apply_firb_lgd + rulebook/packs
# firb_supervisory_lgd): rows with no own LGD estimate take the
# seniority-routed supervisory value (senior 45% / subordinated 75% under
# CRR), OVERRIDDEN by the purchased-receivables sub-type when declared —
# senior receivables 45%, subordinated receivables 100% (deviating from
# the plain 75% subordinated), dilution risk 75%. Dispatch is via the
# sub-type, not seniority, exactly because (f)/(g) deviate. The book mixes
# all three sub-types with undeclared rows across both seniorities; the
# oracle re-derives the routing and the corporate Vasicek.
# ---------------------------------------------------------------------------


def _irb_purchased_receivables_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum
    from rwa_calculator_spark.functions.irb import (
        sql_capital_k_r,
        sql_correlation,
        sql_maturity_adj,
    )
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    return f"""
    WITH base AS (
        SELECT o_orderkey AS ok, o_custkey AS ck,
               o_totalprice / 1000.0 AS ead,
               greatest((CAST(1 + o_orderkey % 8 AS DOUBLE)) / 100.0,
                        0.0003) AS pd_f,
               CASE CAST(o_orderkey % 4 AS INTEGER)
                    WHEN 1 THEN 'senior' WHEN 2 THEN 'subordinated'
                    WHEN 3 THEN 'dilution_risk' END AS pr_subtype,
               CASE WHEN o_custkey % 3 = 0 THEN 'subordinated'
                    ELSE 'senior' END AS sen,
               CAST(2.5 AS DOUBLE) AS m
        FROM orders
    ), routed AS (
        SELECT *,
               CAST(CASE pr_subtype
                    WHEN 'senior' THEN 0.45
                    WHEN 'subordinated' THEN 1.00
                    WHEN 'dilution_risk' THEN 0.75
                    ELSE CASE WHEN sen = 'subordinated' THEN 0.75
                              ELSE 0.45 END
                    END AS DOUBLE) AS lgd_f
        FROM base
    ), g1 AS (
        SELECT *, {sql_acklam_raw('pd_f')} AS x0 FROM routed
    ), g2 AS (
        SELECT * EXCLUDE (x0), {sql_halley_step('x0', 'pd_f')} AS g_pd,
               {sql_correlation('pd_f')} AS r_c
        FROM g1
    ), k AS (
        SELECT *, {sql_capital_k_r('pd_f', 'lgd_f', 'g_pd', 'r_c')} AS kv
        FROM g2
    ), priced AS (
        SELECT coalesce(pr_subtype, '-') AS pr_subtype, sen, ok, ead, lgd_f,
               CAST(ok % 8 AS INTEGER) AS band_pd,
               (kv * {sql_maturity_adj('pd_f', 'm')} * 12.5 * 1.06) AS rw
        FROM k
    )
    SELECT pr_subtype, sen, band_pd,
           count(*) AS n_rows,
           round(min(lgd_f), 8) AS lgd_used,
           round(min(rw), 8) AS rw,
           round(min(rw) * ({sql_scaled_sum('ead', 2)}), 2) AS rwa
    FROM priced GROUP BY 1, 2, 3
    """


@query(
    "irb_purchased_receivables",
    oracle=_irb_purchased_receivables_oracle(),
    tags=("engine", "irb", "tolerant"),
)
def irb_purchased_receivables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.161(1)(e)/(f)/(g) purchased-receivables supervisory LGDs through
    the REAL pipeline (ref engine/irb/transforms.py apply_firb_lgd): F-IRB
    rows with no own LGD route senior 45% / subordinated 75%, and a
    declared purchased_receivables_subtype overrides BOTH — subordinated
    receivables at 100% and dilution risk at 75% deviate from the plain
    seniority rates, which is exactly why dispatch is sub-type-first. The
    oracle re-derives the routing and the corporate-curve Vasicek."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(3).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(2.0e8).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
    )
    ok4 = (F.col("o_orderkey") % 4).cast("int")
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        (F.col("o_totalprice") / F.lit(1000.0)).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        ((1 + F.col("o_orderkey") % 8).cast("double") / F.lit(100.0)).alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(2.5).alias("effective_maturity"),
        F.when(ok4 == 1, "senior")
        .when(ok4 == 2, "subordinated")
        .when(ok4 == 3, "dilution_risk")
        .alias("purchased_receivables_subtype"),
        F.when(F.col("o_custkey") % 3 == 0, "subordinated")
        .otherwise("senior")
        .alias("seniority"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )
    keys = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.coalesce(
            F.when(ok4 == 1, "senior")
            .when(ok4 == 2, "subordinated")
            .when(ok4 == 3, "dilution_risk"),
            F.lit("-"),
        ).alias("pr_subtype"),
        F.when(F.col("o_custkey") % 3 == 0, "subordinated")
        .otherwise("senior")
        .alias("sen"),
        (F.col("o_orderkey") % 8).cast("int").alias("band_pd"),
    )
    r = out.results.join(keys, "exposure_reference")
    return r.groupBy("pr_subtype", "sen", "band_pd").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("irb_lgd_floored"), 8).alias("lgd_used"),
        F.round(F.min("risk_weight"), 8).alias("rw"),
        F.round(
            F.min("risk_weight") * scaled_sum(F.col("ead_after_crm"), 2), 2
        ).alias("rwa"),
    )


# ---------------------------------------------------------------------------
# CRR Art.223(5) exposure-side volatility haircut HE on the SFT FCCM (ref
# engine/crm/haircuts.py apply_exposure_haircut): when a firm LENDS a
# security, E* = max(0, E(1+HE) - C(1-HC)) — HE derives from the same
# Art.224 Table 1 as the collateral haircut, scaled to the Art.224(2)(c)
# 5-day SFT liquidation period via Art.226(2) H5 = H10*sqrt(5/10). Cash
# lent keeps HE = 0. The book mixes govt/corp/cash lent legs across CQS
# and maturity bands; the oracle re-derives band classification, lookup,
# scaling and the per-set netting.
# ---------------------------------------------------------------------------


@query(
    "sft_exposure_haircut",
    oracle="""
    WITH trades AS (
        SELECT o_orderkey AS ok, o_custkey AS ns, o_totalprice AS value,
               (o_orderkey % 2 = 0) AS is_lent,
               0.02 * CAST(o_orderkey % 3 AS DOUBLE) AS c_haircut,
               CASE WHEN o_orderkey % 2 = 0 THEN
                    CASE CAST(o_orderkey % 6 AS INTEGER)
                         WHEN 0 THEN 'govt_bond' WHEN 2 THEN 'govt_bond'
                         WHEN 4 THEN 'corp_bond' END END AS sec_type,
               CAST(1 + o_custkey % 3 AS INTEGER) AS sec_cqs,
               CAST(o_orderkey % 12 AS DOUBLE) AS sec_m
        FROM orders
    ), he AS (
        SELECT *,
               CASE WHEN sec_type IS NULL THEN 0.0
                    ELSE CASE sec_type
                      WHEN 'govt_bond' THEN
                        CASE WHEN sec_cqs = 1 THEN
                             CASE WHEN sec_m <= 1 THEN 0.005
                                  WHEN sec_m <= 5 THEN 0.02 ELSE 0.04 END
                        ELSE CASE WHEN sec_m <= 1 THEN 0.01
                                  WHEN sec_m <= 5 THEN 0.03 ELSE 0.06 END
                        END
                      WHEN 'corp_bond' THEN
                        CASE WHEN sec_cqs = 1 THEN
                             CASE WHEN sec_m <= 1 THEN 0.01
                                  WHEN sec_m <= 5 THEN 0.04 ELSE 0.08 END
                        ELSE CASE WHEN sec_m <= 1 THEN 0.02
                                  WHEN sec_m <= 5 THEN 0.06 ELSE 0.12 END
                        END
                      END * sqrt(5.0 / 10.0)
                    END AS he_v
        FROM trades
    ), legs AS (
        SELECT ns,
               CASE WHEN is_lent THEN value * (1.0 + he_v) ELSE 0.0 END AS lent,
               CASE WHEN NOT is_lent THEN value * (1.0 - c_haircut)
                    ELSE 0.0 END AS received
        FROM he
    ), per_set AS (
        SELECT ns,
               sum(CAST(round(lent * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS lent_total,
               sum(CAST(round(received * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS received_total
        FROM legs GROUP BY ns
    )
    SELECT CAST(ns % 7 AS INTEGER) AS band,
           count(*) AS n_sets,
           sum(CAST(round(greatest(lent_total - received_total, 0.0) * 100.0,
                          0) AS BIGINT)) / CAST(100 AS DOUBLE) AS sft_ead
    FROM per_set GROUP BY 1
    """,
    tags=("engine", "sft", "ccr", "tolerant"),
)
def sft_exposure_haircut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.223(5) exposure-side haircut through the REAL SFT operator
    (engine/stages/ccr_sft.py sft_exposures): lent government / corporate
    bonds derive HE from the Art.224 Table 1 banded lookup at the 5-day
    SFT liquidation scaling, cash lent stays at HE = 0, and the per-set
    FCCM netting runs over the inflated lent totals."""
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.engine.stages.ccr_sft import sft_exposures
    from rwa_calculator_spark.functions.exact import scaled_sum

    o = load_table(spark, sf_dir, "orders")
    ok6 = (F.col("o_orderkey") % 6).cast("int")
    trades = o.select(
        F.col("o_custkey").cast("string").alias("netting_set_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.when(F.col("o_orderkey") % 2 == 0, "lent")
        .otherwise("collateral")
        .alias("leg"),
        F.col("o_totalprice").alias("value"),
        (F.lit(0.02) * (F.col("o_orderkey") % 3).cast("double")).alias("haircut"),
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.when(ok6.isin(0, 2), "govt_bond").when(ok6 == 4, "corp_bond"),
        ).alias("security_type"),
        (1 + F.col("o_custkey") % 3).cast("int").alias("security_cqs"),
        (F.col("o_orderkey") % 12).cast("double").alias(
            "security_residual_maturity_years"
        ),
    )
    shaped = sft_exposures(trades, CRR_PACK)
    return shaped.groupBy(
        (
            F.regexp_replace("exposure_reference", "_SFT$", "").cast("long") % 7
        )
        .cast("int")
        .alias("band")
    ).agg(
        F.count("*").alias("n_sets"),
        scaled_sum(F.col("drawn_amount"), 2).alias("sft_ead"),
    )


# ---------------------------------------------------------------------------
# CRR Art.501a infrastructure factor on the SLOTTING branch (ref
# slotting/calculator.py:146 _apply_supporting_factors — "infrastructure
# project finance in slotting can qualify for the 0.75 infrastructure
# supporting factor"; B3.1 disables supporting factors entirely): every
# other SL obligor is infrastructure-flagged, so the Art.153(5) Table A
# weight prices at x0.75 on those rows while the rest keep the full table
# value; the benefit seals on the ledger decomposition carriers.
# ---------------------------------------------------------------------------


@query(
    "slotting_infra_factor",
    oracle="""
    WITH sl AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS ead,
               CASE CAST(o_custkey % 4 AS INTEGER)
                    WHEN 0 THEN 'strong' WHEN 1 THEN 'good'
                    WHEN 2 THEN 'satisfactory' ELSE 'weak' END AS slot_category,
               (o_custkey % 2 = 0) AS infra
        FROM orders
    ), priced AS (
        SELECT slot_category, infra, ead,
               CASE slot_category WHEN 'strong' THEN 0.70 WHEN 'good' THEN 0.90
                    WHEN 'satisfactory' THEN 1.15 ELSE 2.50 END AS rw,
               CASE WHEN infra THEN 0.75 ELSE 1.0 END AS sf
        FROM sl
    )
    SELECT slot_category, infra, count(*) AS n_exposures,
           sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS rwa_before_sf,
           sum(CAST(round(((ead * rw) * sf) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS rwa,
           sum(CAST(round(((ead * rw) - (ead * rw) * sf) * 100.0, 0)
                    AS BIGINT)) / CAST(100 AS DOUBLE) AS sf_benefit
    FROM priced GROUP BY 1, 2
    """,
    tags=("engine", "slotting", "rwa"),
)
def slotting_infra_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.501a infrastructure factor through the REAL slotting branch
    (ref slotting/calculator.py _apply_supporting_factors): infrastructure
    SL obligors price the Art.153(5) Table A weight at x0.75, others keep
    the full value, and the ledger seals the factor plus the RWEA saved —
    value-visible per (category, infrastructure flag)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ck4 = (F.col("c_custkey") % 4).cast("int")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(2.0e8).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
        (F.col("c_custkey") % 2 == 0).alias("is_infrastructure"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    sl = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(ck4 == 0, "strong")
        .when(ck4 == 1, "good")
        .when(ck4 == 2, "satisfactory")
        .otherwise("weak")
        .alias("slot_category"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, specialised_lending=sl),
        PipelineConfig(pack=CRR_PACK),
    )
    r = out.results.where(F.col("approach") == "SLOTTING")
    return r.groupBy(
        "slot_category",
        (F.col("infra_supporting_factor") < 1.0).alias("infra"),
    ).agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("rwa_before_sf"), 2).alias("rwa_before_sf"),
        scaled_sum(F.col("rwa"), 2).alias("rwa"),
        scaled_sum(F.col("supporting_factor_benefit"), 2).alias("sf_benefit"),
    )


# ---------------------------------------------------------------------------
# CRR Art.235(3) + Art.114(4)/(7) domestic CGCB-guarantor extension (ref
# engine/sa/rw_adjustments.py _build_domestic_guarantor_expr +
# build_domestic_cgcb_guarantor_expr): a central-government guarantee from
# an EU member state, DENOMINATED and FUNDED in that state's domestic
# currency, extends the sovereign 0% to the covered portion — bypassing
# the guarantor's own CQS ladder weight. Denomination falls back to the
# exposure currency; the funding limb is null-PERMISSIVE. The book crosses
# guarantor countries (US / DE / PL), guarantee currencies (EUR / USD) and
# funding currencies (null / USD) so match, currency-mismatch,
# wrong-member-state and foreign-funding routes all price.
# ---------------------------------------------------------------------------


@query(
    "crm_domestic_guarantor",
    oracle="""
    WITH cps AS (
        SELECT c_custkey AS cp,
               CAST(1 + c_custkey % 6 AS INTEGER) AS cqs,
               CAST(1 + c_custkey % 5 AS INTEGER) AS gcqs,
               CASE CAST(c_custkey % 3 AS INTEGER)
                    WHEN 0 THEN 'US' WHEN 1 THEN 'DE' ELSE 'PL'
                    END AS g_country
        FROM customer
    ), loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS ead,
               CASE WHEN o_orderkey % 3 = 0 THEN 'USD' END AS funding,
               (o_orderkey % 2 = 0) AS has_g,
               CAST(1 + o_orderkey % 4 AS DOUBLE) / 5.0 AS cov,
               CASE WHEN o_orderkey % 5 = 0 THEN 'USD'
                    ELSE 'EUR' END AS g_ccy
        FROM orders
    ), priced AS (
        SELECT l.*, c.cqs, c.gcqs, c.g_country,
               CASE c.cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 1.0
                    WHEN 4 THEN 1.0 ELSE 1.5 END AS own_rw,
               CASE WHEN c.g_country = 'DE' AND l.g_ccy = 'EUR'
                         AND coalesce(l.funding, l.g_ccy) = 'EUR'
                    THEN 0.0
                    ELSE CASE c.gcqs WHEN 1 THEN 0.0 WHEN 2 THEN 0.2
                         WHEN 3 THEN 0.5 WHEN 4 THEN 1.0 ELSE 1.0 END
                    END AS g_rw
        FROM loans l JOIN cps c ON l.cp = c.cp
    ), final AS (
        SELECT ead,
               CASE WHEN has_g
                    THEN cov * least(own_rw, g_rw) + (1.0 - cov) * own_rw
                    ELSE own_rw END AS rw,
               CASE WHEN has_g AND g_rw < own_rw
                    THEN 'sa_cqs_lookup+guarantee'
                    ELSE 'sa_cqs_lookup' END AS rw_source
        FROM priced
    )
    SELECT rw_source, round(CAST(rw AS DOUBLE), 8) AS rw,
           count(*) AS n_exposures,
           sum(CAST(round(ead * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM final GROUP BY 1, 2
    """,
    tags=("engine", "crm", "sa"),
)
def crm_domestic_guarantor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.235(3) domestic CGCB-guarantor 0% extension through the REAL
    pipeline: sovereign guarantors from US / DE / PL with EUR / USD
    guarantee denominations and null / USD funding — only the DE + EUR +
    domestically-funded combination extends 0% onto the covered portion;
    everything else prices the guarantor's own sovereign CQS weight
    through the ordinary Art.235 substitution blend."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ck3 = (F.col("c_custkey") % 3).cast("int")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        (1 + F.col("c_custkey") % 6).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        F.when(F.col("o_orderkey") % 3 == 0, "USD").alias("funding_currency"),
    )
    _k3 = (F.col("o_custkey") % 3).cast("int")
    gtees = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.concat(F.lit("G"), F.col("o_orderkey")).alias("guarantee_reference"),
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        ((1 + F.col("o_orderkey") % 4).cast("double") / F.lit(5.0)).alias(
            "coverage_pct"
        ),
        F.lit("sovereign").alias("guarantor_class"),
        (1 + F.col("o_custkey") % 5).cast("int").alias("guarantor_cqs"),
        F.when(_k3 == 0, "US").when(_k3 == 1, "DE").otherwise("PL").alias(
            "guarantor_country_code"
        ),
        F.when(F.col("o_orderkey") % 5 == 0, "USD")
        .otherwise("EUR")
        .alias("guarantee_currency"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, guarantees=gtees),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy(
        "rw_source", F.round("risk_weight", 8).alias("rw")
    ).agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


# ---------------------------------------------------------------------------
# CRR Art.306(1) / Art.107(2)(a) CCP treatment (ref engine/ccr/ccp.py
# apply_ccp_risk_weight + engine/sa/cqs_lift.py lift_institution_cqs +
# classify/approach.py "CCP trade exposures -> SA"): a CCP counterparty
# classifies onto the institution ladder; trade exposures to a QUALIFYING
# CCP then override to 2% (clearing member's own trades) or 4%
# (client-cleared), while a non-qualifying CCP keeps the institution CQS
# weight. The book mixes qualifying/non-qualifying CCPs, cleared flags and
# CQS bands; the oracle re-derives ladder + override + precedence.
# ---------------------------------------------------------------------------


@query(
    "sa_qccp_trade_exposures",
    oracle="""
    WITH cps AS (
        SELECT c_custkey AS cp,
               CAST(1 + c_custkey % 5 AS INTEGER) AS cqs,
               (c_custkey % 3 <> 0) AS qccp
        FROM customer
    ), trades AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS ead,
               (o_orderkey % 2 = 0) AS cleared
        FROM orders
    ), priced AS (
        SELECT t.*, c.qccp, c.cqs,
               CAST(CASE
                 WHEN c.qccp AND t.cleared THEN 0.04
                 WHEN c.qccp THEN 0.02
                 ELSE CASE c.cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
                      WHEN 3 THEN 0.5 WHEN 4 THEN 1.0 ELSE 1.0 END
                 END AS DOUBLE) AS rw,
               CASE
                 WHEN c.qccp AND t.cleared THEN 'sa_qccp_client_cleared_art306_1c'
                 WHEN c.qccp THEN 'sa_qccp_trade_art306_1a'
                 ELSE 'sa_cqs_lookup' END AS rw_source
        FROM trades t JOIN cps c ON t.cp = c.cp
    )
    SELECT rw_source, cqs, rw, count(*) AS n_exposures,
           sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM priced GROUP BY 1, 2, 3
    """,
    tags=("engine", "ccr", "sa"),
)
def sa_qccp_trade_exposures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.306(1) QCCP trade-exposure weights through the REAL pipeline
    (ref engine/ccr/ccp.py apply_ccp_risk_weight): CCP counterparties
    demote onto the institution ladder per Art.107(2)(a), qualifying CCPs
    then price their clearing-member trades at 2% and client-cleared
    trades at 4%, and non-qualifying CCPs keep the institution CQS weight
    — all three routes value-visible by (rw_source, cqs, rw)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("ccp").alias("entity_type"),
        (1 + F.col("c_custkey") % 5).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
        (F.col("c_custkey") % 3 != 0).alias("is_qccp"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        (F.col("o_orderkey") % 2 == 0).alias("is_client_cleared"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy(
        "rw_source", F.col("sa_cqs").alias("cqs"), F.col("risk_weight").alias("rw")
    ).agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


# ---------------------------------------------------------------------------
# PS1/26 Table A1 Row 4(b) + Art.166E(5) CCF overrides (ref engine/ccf.py
# _apply_uk_residential_mortgage_ccf / _apply_purchased_receivable_ccf):
# UK residential-mortgage commitments take a fixed 50% CCF unless already
# at the Row 7 UCC 10% or the Row 1/2 100% (carve-out tested on the
# RESOLVED factor); the undrawn purchase commitment of a REVOLVING
# purchased-receivables facility routes to the Row 5 OC 40% regardless of
# its generic bucket, dropping to the UCC 10% when unconditionally
# cancellable. PR routing is applied after the mortgage override, so a
# doubly-flagged row prices on Art.166E(5) — the oracle mirrors that
# precedence. PRA constructs with no CRR equivalent (pack-gated).
# ---------------------------------------------------------------------------


@query(
    "sa_b31_ccf_overrides",
    oracle="""
    WITH cont AS (
        SELECT o_orderkey AS ok, o_totalprice AS nominal,
               CASE CAST(o_orderkey % 4 AS INTEGER)
                    WHEN 0 THEN 'full_risk' WHEN 1 THEN 'medium_risk'
                    WHEN 2 THEN 'medium_low_risk' ELSE 'low_risk'
                    END AS bucket,
               (o_orderkey % 5 = 0) AS resi,
               (o_orderkey % 7 = 0) AS prc,
               (o_orderkey % 2 = 0) AS revolving
        FROM orders
    ), resolved AS (
        SELECT *,
               CASE bucket WHEN 'full_risk' THEN 1.0 WHEN 'medium_risk'
                    THEN 0.5 WHEN 'medium_low_risk' THEN 0.4
                    ELSE 0.1 END AS ccf0
        FROM cont
    ), routed AS (
        SELECT *,
               CASE
                 WHEN prc AND revolving THEN
                      CASE WHEN bucket = 'low_risk' THEN 0.1 ELSE 0.4 END
                 WHEN resi AND ccf0 NOT IN (0.1, 1.0) THEN 0.5
                 ELSE ccf0 END AS ccf,
               CASE
                 WHEN prc AND revolving THEN 'pr_revolving_art166e5'
                 WHEN resi AND ccf0 NOT IN (0.1, 1.0)
                      THEN 'uk_resi_commitment_row4b'
                 ELSE 'sa_annex_i_bucket' END AS ccf_source
        FROM resolved
    )
    SELECT ccf_source, CAST(ccf AS DOUBLE) AS ccf,
           count(*) AS n_exposures,
           sum(CAST(round((nominal * ccf) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_ead
    FROM routed GROUP BY 1, 2
    """,
    tags=("engine", "ccf", "sa"),
)
def sa_b31_ccf_overrides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PS1/26 Table A1 Row 4(b) UK residential-mortgage commitment CCF +
    the Art.166E(5) revolving purchased-receivables routing through the
    REAL pipeline: a contingent book spanning all four Annex-equivalent
    buckets with overlapping mortgage/receivables flags — the carve-out
    (UCC 10% / full 100% rows keep their factor), the Row 5/Row 7 split on
    cancellability, and the override precedence are all value-visible in
    (ccf_source, ccf, converted EAD)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(2.0e8).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = spark.createDataFrame(
        [],
        "loan_reference string, counterparty_reference string, "
        "drawn_amount double, is_defaulted boolean, pd double, lgd double, "
        "effective_maturity double",
    )
    ok4 = (F.col("o_orderkey") % 4).cast("int")
    cont = o.select(
        F.concat(F.lit("K"), F.col("o_orderkey")).alias("contingent_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("nominal_amount"),
        F.when(ok4 == 0, "full_risk")
        .when(ok4 == 1, "medium_risk")
        .when(ok4 == 2, "medium_low_risk")
        .otherwise("low_risk")
        .alias("risk_bucket"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        (F.col("o_orderkey") % 5 == 0).alias(
            "is_uk_residential_mortgage_commitment"
        ),
        (F.col("o_orderkey") % 7 == 0).alias("is_purchased_receivable_commitment"),
        (F.col("o_orderkey") % 2 == 0).alias("is_revolving"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, contingents=cont),
        PipelineConfig(pack=B31_PACK),
    )
    return out.results.groupBy("ccf_source", F.col("ccf")).agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
    )


# ---------------------------------------------------------------------------
# Art.162 maturity priority chain + Art.213(1)(c)(i) UCP gate (ref
# engine/irb/transforms.py _build_maturity_exprs + engine/crm/guarantees.py
# _gate_unilateral_protection): supplied effective maturities are the firm's
# own Art.162(2) figures trusted to the [1 day, 5y] clip; short-term trade
# finance with residual <= 1y derives the CRR Art.162(3)(b) one-day floor;
# everything else defaults to 2.5y. A guarantee the provider can
# unilaterally cancel is ineligible (CRM012) and its exposure prices
# unguaranteed.
# ---------------------------------------------------------------------------


def _irb_maturity_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum
    from rwa_calculator_spark.functions.irb import (
        sql_capital_k_r,
        sql_correlation,
        sql_maturity_adj,
    )
    from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step

    return f"""
    WITH base AS (
        SELECT o_orderkey AS ok, o_totalprice AS ead,
               greatest(coalesce(CAST(1 + o_orderkey % 8 AS DOUBLE) / 100.0,
                        1.0), 0.0003) AS pd_fl,
               CAST(0.45 AS DOUBLE) AS lgd,
               -- the engine's maturity rungs, re-derived: supplied 0.5 /
               -- supplied 3.0 / trade-LC one-day carve-out / 2.5 default
               CASE CAST(o_orderkey % 4 AS INTEGER)
                    WHEN 0 THEN least(greatest(CAST(0.5 AS DOUBLE),
                                               (1.0 / 365.0)), 5.0)
                    WHEN 1 THEN least(greatest(CAST(3.0 AS DOUBLE),
                                               (1.0 / 365.0)), 5.0)
                    WHEN 2 THEN (1.0 / 365.0)
                    ELSE CAST(2.5 AS DOUBLE) END AS m
        FROM orders
    ), g1 AS (
        SELECT *, {sql_acklam_raw('pd_fl')} AS x0 FROM base
    ), g2 AS (
        SELECT * EXCLUDE (x0), {sql_halley_step('x0', 'pd_fl')} AS g_pd,
               {sql_correlation('pd_fl')} AS r_c
        FROM g1
    ), k AS (
        SELECT *, {sql_capital_k_r('pd_fl', 'lgd', 'g_pd', 'r_c')} AS kv,
               {sql_maturity_adj('pd_fl', 'm')} AS ma
        FROM g2
    ), priced AS (
        SELECT ok, ead, m, (((kv * ma) * 12.5) * 1.06) AS rw_own,
               (ok % 5 = 0) AS has_g, (ok % 10 = 0) AS ucp_dropped
        FROM k
    ), final AS (
        SELECT *,
               CASE WHEN has_g AND NOT ucp_dropped
                    THEN ((1.0 - 0.5) * rw_own) + (0.5 * 0.0)
                    ELSE rw_own END AS rw
        FROM priced
    )
    SELECT CAST(ok % 4 AS INTEGER) AS band_m,
           CAST(ok % 8 AS INTEGER) AS band_pd,
           has_g, ucp_dropped,
           count(*) AS n_rows,
           round(min(m), 8) AS m_eff,
           round(min(rw), 8) AS rw,
           round(min(rw) * ({sql_scaled_sum('ead', 2)}), 2) AS rwa
    FROM final GROUP BY 1, 2, 3, 4
    """


@query(
    "irb_maturity_chain",
    oracle=_irb_maturity_oracle(),
    tags=("engine", "irb", "crm", "tolerant"),
)
def irb_maturity_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Art.162 maturity chain + Art.213(1)(c)(i) UCP gate through the REAL
    pipeline (ref engine/irb/transforms.py _build_maturity_exprs +
    crm/guarantees.py _gate_unilateral_protection): supplied maturities 0.5
    and 3.0 are trusted to the [1 day, 5y] clip, self-liquidating
    short-term trade finance derives the CRR one-day floor, the rest
    default to 2.5y; every 5th exposure carries a 50% sovereign guarantee,
    every 10th one the provider can unilaterally CANCEL — those drop
    (CRM012) and price unguaranteed."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(3).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(2.0e8).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
    )
    okm = (F.col("o_orderkey") % 4).cast("int")
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        ((1 + F.col("o_orderkey") % 8).cast("double") / F.lit(100.0)).alias("pd"),
        F.lit(0.45).alias("lgd"),
        F.when(okm == 0, 0.5).when(okm == 1, 3.0).alias("effective_maturity"),
        (okm == 2).alias("is_short_term_trade_lc"),
        F.when(okm == 2, 0.5).alias("residual_maturity_years"),
    )
    gtees = o.where(F.col("o_orderkey") % 5 == 0).select(
        F.concat(F.lit("G"), F.col("o_orderkey")).alias("guarantee_reference"),
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.lit(0.5).alias("coverage_pct"),
        F.lit("sovereign").alias("guarantor_class"),
        F.lit(1).cast("int").alias("guarantor_cqs"),
        (F.col("o_orderkey") % 10 == 0).alias("is_unilaterally_cancellable"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, guarantees=gtees),
        PipelineConfig(pack=CRR_PACK),
    )
    keys = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        (F.col("o_orderkey") % 4).cast("int").alias("band_m"),
        (F.col("o_orderkey") % 8).cast("int").alias("band_pd"),
        (F.col("o_orderkey") % 5 == 0).alias("has_g"),
        (F.col("o_orderkey") % 10 == 0).alias("ucp_dropped"),
    )
    r = out.results.join(keys, "exposure_reference")
    return r.groupBy("band_m", "band_pd", "has_g", "ucp_dropped").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("irb_maturity_m"), 8).alias("m_eff"),
        F.round(F.min("risk_weight"), 8).alias("rw"),
        F.round(
            F.min("risk_weight") * scaled_sum(F.col("ead_after_crm"), 2), 2
        ).alias("rwa"),
    )


# ---------------------------------------------------------------------------
# CRR Art.164(4) retail-RE portfolio LGD floor check (ref
# engine/aggregator/_lgd_floor_check.py): the A-IRB retail-mortgage book
# splits residential/commercial; each sub-portfolio whose EAD-weighted
# average own-estimate LGD sits below its floor (10% residential / 15%
# commercial) raises one IRB007 warning — warning-only, never repriced.
# ---------------------------------------------------------------------------

_PORTFOLIO_LGD_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_totalprice AS ead,
               0.05 + CAST(o_orderkey % 3 AS DOUBLE) * 0.02 AS lgd,
               (o_orderkey % 2 = 0) AS commercial
        FROM orders
    ), buckets AS (
        SELECT CASE WHEN commercial THEN 'commercial'
                    ELSE 'residential' END AS bucket,
               count(*) AS n_rows,
               (CAST(sum(CAST(floor((lgd * ead) * 100.0 + 0.5) AS BIGINT))
                     AS DOUBLE) / 100.0)
               / (CAST(sum(CAST(floor(ead * 100.0 + 0.5) AS BIGINT))
                       AS DOUBLE) / 100.0) AS ew_avg,
               CASE WHEN commercial THEN CAST(0.15 AS DOUBLE)
                    ELSE CAST(0.10 AS DOUBLE) END AS floor_pct
        FROM loans GROUP BY 1, 4
    )
    SELECT bucket, n_rows, round(ew_avg, 8) AS ew_avg_lgd, floor_pct,
           (ew_avg < floor_pct) AS breached
    FROM buckets
"""


@query(
    "irb_portfolio_lgd_floor_check",
    oracle=_PORTFOLIO_LGD_ORACLE,
    tags=("engine", "irb", "validation", "tolerant"),
)
def irb_portfolio_lgd_floor_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.164(4) portfolio LGD floor through the REAL pipeline (ref
    engine/aggregator/_lgd_floor_check.py): an A-IRB retail-mortgage book
    with modelled LGDs 5/7/9% (EW-avg ~7% — below both floors), split
    residential/commercial on the is_commercial_re carrier; the aggregator
    raises one IRB007 per breaching bucket, surfaced here as the breached
    flag alongside the recomputed EW-avg."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("individual").alias("entity_type"),
        F.lit(0).cast("int").alias("cqs"),
        F.lit(True).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(True).alias("has_irb_permission"),
        F.lit("mortgage").alias("retail_subtype"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(0.01).alias("pd"),
        (F.lit(0.05) + (F.col("o_orderkey") % 3).cast("double") * F.lit(0.02)).alias(
            "lgd"
        ),
        F.lit(None).cast("double").alias("effective_maturity"),
        (F.col("o_orderkey") % 2 == 0).alias("is_commercial_re"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=CRR_PACK),
    )
    bucket = F.when(
        F.coalesce("is_commercial_re", F.lit(False)), "commercial"
    ).otherwise("residential")
    stats = out.results.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.round(
            scaled_sum(F.col("irb_lgd_original") * F.col("ead_after_crm"), 2)
            / scaled_sum(F.col("ead_after_crm"), 2),
            8,
        ).alias("ew_avg_lgd"),
        F.max(
            F.when(F.coalesce("is_commercial_re", F.lit(False)), 0.15).otherwise(
                0.10
            )
        ).alias("floor_pct"),
    )
    warned = out.errors.where(F.col("code") == "IRB007").select(
        F.col("key").alias("bucket"), F.lit(True).alias("breached")
    )
    return stats.join(warned, "bucket", "left").withColumn(
        "breached", F.coalesce("breached", F.lit(False))
    )


# ---------------------------------------------------------------------------
# Round 8: multi-level guarantee beneficiary cascade through the REAL
# pipeline (closes the recorded round-7 narrowing; ref
# engine/crm/guarantees.py:594-655 _expand_guarantee_beneficiaries) —
# facility-level guarantees cascade over the named facility's descendant
# subtree, counterparty-level guarantees pool pro-rata over the obligor's
# book, direct guarantees pass through; declared percentages pass through
# unchanged while amounts derive the uniform fraction amount/Σead. Legs
# from different levels stack in the round-7 priority order.
# ---------------------------------------------------------------------------


def _gtee_cascade_oracle() -> str:
    from rwa_calculator_spark.functions.exact import sql_scaled_sum

    return f"""
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS ck, o_totalprice AS drawn
        FROM orders
    ), flegs AS (
        -- sovereign CQS1 (RW 0%) declared at root facility RF(ck%10):
        -- cascades RF -> FAC(ck) -> every even-keyed loan under it
        SELECT ok, 'GF_' || (ck % 10) AS gref, 'sovereign' AS gclass,
               CAST(0.0 AS DOUBLE) AS grw,
               CAST(0.25 + ((ck % 10) % 4) * 0.125 AS DOUBLE) AS cov,
               'facility' AS lvl, 'RF' || (ck % 10) AS src
        FROM loans WHERE ok % 2 = 0
    ), cpden AS (
        SELECT ck, {sql_scaled_sum('drawn', 2)} AS den
        FROM loans GROUP BY ck
    ), clegs AS (
        -- institution CQS1 (RW 20%) amount guarantee pooled over the
        -- obligor: uniform fraction amount/Sigma ead, capped at 1
        SELECT l.ok, 'GC_' || l.ck AS gref, 'institution' AS gclass,
               CAST(0.2 AS DOUBLE) AS grw,
               least(100000.0 / d.den, 1.0) AS cov,
               'counterparty' AS lvl, 'CP' || l.ck AS src
        FROM loans l JOIN cpden d ON l.ck = d.ck WHERE l.ck % 3 = 0
    ), dlegs AS (
        SELECT ok, 'GD_' || ok AS gref, 'corporate' AS gclass,
               CAST(0.2 AS DOUBLE) AS grw, CAST(0.5 AS DOUBLE) AS cov,
               'exposure' AS lvl, CAST(NULL AS VARCHAR) AS src
        FROM loans WHERE ok % 5 = 0
    ), legs AS (
        SELECT * FROM flegs UNION ALL SELECT * FROM clegs
        UNION ALL SELECT * FROM dlegs
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY ok ORDER BY cov DESC, gclass, gref
               ) AS rn,
               sum(cov) OVER (
                   PARTITION BY ok ORDER BY cov DESC, gclass, gref
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM legs
    ), sliced AS (
        SELECT ok, rn, grw, lvl, src,
               greatest(least(cov, 1.0 - (cum - cov)), 0.0) AS sl
        FROM ranked
    ), folded AS (
        -- ordered left-to-right additions mirror the engine's
        -- priority-ordered array fold bit-for-bit (n <= 3 by construction)
        SELECT ok,
               ((coalesce(max(CASE WHEN rn = 1 THEN sl END), 0.0)
                 + coalesce(max(CASE WHEN rn = 2 THEN sl END), 0.0))
                 + coalesce(max(CASE WHEN rn = 3 THEN sl END), 0.0))
                   AS g_total,
               ((coalesce(max(CASE WHEN rn = 1
                              THEN sl * least(0.5, grw) END), 0.0)
                 + coalesce(max(CASE WHEN rn = 2
                              THEN sl * least(0.5, grw) END), 0.0))
                 + coalesce(max(CASE WHEN rn = 3
                              THEN sl * least(0.5, grw) END), 0.0))
                   AS sub_term,
               max(CASE WHEN rn = 1 THEN lvl END) AS lvl1,
               max(CASE WHEN rn = 1 THEN src END) AS src1
        FROM sliced GROUP BY ok
    ), ledger AS (
        SELECT l.ok, l.drawn,
               coalesce(f.lvl1, 'none') AS source_level,
               CASE WHEN f.lvl1 IS NOT NULL AND f.lvl1 <> 'exposure'
                    THEN f.src1 END AS inherited_from,
               CASE WHEN f.ok IS NULL THEN 0.5
                    ELSE f.sub_term + (1.0 - f.g_total) * 0.5 END AS rw,
               coalesce(f.g_total, 0.0) * l.drawn AS gportion
        FROM loans l LEFT JOIN folded f ON l.ok = f.ok
    )
    SELECT source_level, count(*) AS n_rows,
           CAST(sum(CASE WHEN inherited_from IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inherited,
           sum(CAST(round(rw * 1000000.0, 0) AS BIGINT))
               / CAST(1000000 AS DOUBLE) AS rw_sum,
           {sql_scaled_sum('gportion', 2)} AS guaranteed_portion,
           {sql_scaled_sum('drawn * rw', 2)} AS rwa
    FROM ledger GROUP BY source_level
    """


@query(
    "crm_guarantee_cascade",
    oracle=_gtee_cascade_oracle(),
    tags=("engine", "crm", "tolerant"),
)
def crm_guarantee_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facility-subtree + obligor-pool guarantee cascade through the REAL
    pipeline: every even-keyed loan sits under FAC(cp) -> RF(cp%10) with a
    sovereign %-guarantee declared at the ROOT facility (cascades two
    levels down), every third counterparty carries an institution AMOUNT
    guarantee pooled pro-rata over its whole book, every fifth loan a
    direct corporate guarantee. Legs stack in priority order; the ledger
    groups by the rank-1 leg's provenance level (ref
    engine/crm/guarantees.py:594-655, CALCULATION_OUTPUT_SCHEMA
    guarantee_source_level/guarantee_inherited_from)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(2).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    fmap = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .select(
            F.concat(F.lit("L"), F.col("o_orderkey")).alias("child_reference"),
            F.lit("loan").alias("child_type"),
            F.concat(F.lit("FAC"), F.col("o_custkey")).alias(
                "parent_facility_reference"
            ),
        )
        .unionByName(
            c.select(
                F.concat(F.lit("FAC"), F.col("c_custkey")).alias("child_reference"),
                F.lit("facility").alias("child_type"),
                F.concat(F.lit("RF"), F.col("c_custkey") % 10).alias(
                    "parent_facility_reference"
                ),
            )
        )
    )
    _gnum = F.lit(None).cast("double")
    fac_g = (
        c.select((F.col("c_custkey") % 10).alias("j"))
        .distinct()
        .select(
            F.lit("facility").alias("beneficiary_type"),
            F.concat(F.lit("RF"), F.col("j")).alias("beneficiary_reference"),
            (0.25 + (F.col("j") % 4).cast("double") * 0.125).alias("coverage_pct"),
            _gnum.alias("guarantee_amount"),
            F.lit("sovereign").alias("guarantor_class"),
            F.lit(1).cast("int").alias("guarantor_cqs"),
            F.concat(F.lit("GF_"), F.col("j")).alias("guarantee_reference"),
        )
    )
    cp_g = c.where(F.col("c_custkey") % 3 == 0).select(
        F.lit("counterparty").alias("beneficiary_type"),
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("beneficiary_reference"),
        _gnum.alias("coverage_pct"),
        F.lit(100000.0).alias("guarantee_amount"),
        F.lit("institution").alias("guarantor_class"),
        F.lit(1).cast("int").alias("guarantor_cqs"),
        F.concat(F.lit("GC_"), F.col("c_custkey")).alias("guarantee_reference"),
    )
    d_g = o.where(F.col("o_orderkey") % 5 == 0).select(
        F.lit("loan").alias("beneficiary_type"),
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("beneficiary_reference"),
        F.lit(0.5).alias("coverage_pct"),
        _gnum.alias("guarantee_amount"),
        F.lit("corporate").alias("guarantor_class"),
        F.lit(1).cast("int").alias("guarantor_cqs"),
        F.concat(F.lit("GD_"), F.col("o_orderkey")).alias("guarantee_reference"),
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps,
            loans=loans,
            facility_mappings=fmap,
            guarantees=fac_g.unionByName(cp_g).unionByName(d_g),
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    from rwa_calculator_spark.functions.exact import scaled_sum

    return out.results.groupBy(
        F.coalesce("guarantee_source_level", F.lit("none")).alias("source_level")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("guarantee_inherited_from").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_inherited"),
        scaled_sum(F.col("risk_weight"), 6).alias("rw_sum"),
        scaled_sum(F.col("guaranteed_portion"), 2).alias("guaranteed_portion"),
        scaled_sum(F.col("rwa"), 2).alias("rwa"),
    )


# ---------------------------------------------------------------------------
# Round 8: the B3.1 SA risk-weight branches the repo previously lacked —
# PS1/26 Art.120 Tables 3/4/4A + Art.120A SCRA-ST, Art.122(3) Table 6A,
# Art.122(6)/(11) IG assessment + corporate SME, Art.123(2)/(4) retail
# transactor/payroll — and the Art.127 defaulted provision test.
# ---------------------------------------------------------------------------


@query(
    "sa_b31_rw_branches",
    oracle="""
    WITH cps AS (
        SELECT c_custkey AS cp,
               CASE WHEN c_custkey % 5 = 0 THEN 'individual'
                    WHEN c_custkey % 5 = 1 THEN 'institution'
                    ELSE 'corporate' END AS entity,
               CAST(c_custkey % 7 AS INTEGER) AS cqs,
               (c_custkey % 2 = 0) AS sme,         -- revenue 40m < 50m cap
               CASE CAST(c_custkey % 4 AS INTEGER)
                    WHEN 0 THEN 'A' WHEN 1 THEN 'A_ENHANCED'
                    WHEN 2 THEN 'B' ELSE 'C' END AS grade,
               (c_custkey % 3 = 0) AS st_ecai,
               (c_custkey % 3 = 0) AS ig,
               (c_custkey % 4 = 0) AS transactor
        FROM customer
    ), loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp,
               o_totalprice / 1000.0 AS drawn,
               (o_orderkey % 6 = 0) AS payroll,
               CASE CAST(o_orderkey % 4 AS INTEGER)
                    WHEN 0 THEN 0.2 WHEN 1 THEN 0.4 ELSE 2.0 END AS om,
               (o_orderkey % 3 = 0) AS st_lc
        FROM orders
    ), j AS (
        SELECT l.*, c.entity, c.cqs, c.sme, c.grade, c.st_ecai, c.ig,
               c.transactor,
               ((l.om <= 0.25) OR (l.st_lc AND l.om <= 0.5)) AS st_window
        FROM loans l JOIN cps c ON l.cp = c.cp
    ), priced AS (
        SELECT *,
          CASE
            -- retail (individuals, group exposure far below 1m)
            WHEN entity = 'individual' AND transactor THEN 0.45
            WHEN entity = 'individual' AND payroll THEN 0.35
            WHEN entity = 'individual' THEN 0.75
            -- institutions
            WHEN entity = 'institution' AND cqs > 0 AND st_ecai THEN
                 CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 1.0
                          ELSE 1.5 END                       -- Table 4A
            WHEN entity = 'institution' AND cqs > 0 AND st_window THEN
                 CASE WHEN cqs <= 3 THEN 0.2 WHEN cqs <= 5 THEN 0.5
                      ELSE 1.5 END                           -- Table 4
            WHEN entity = 'institution' AND cqs > 0 THEN
                 CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.3 WHEN 3 THEN 0.5
                          WHEN 4 THEN 1.0 WHEN 5 THEN 1.0 ELSE 1.5 END
            WHEN entity = 'institution' AND st_window THEN
                 CASE grade WHEN 'B' THEN 0.5 WHEN 'C' THEN 1.5
                      ELSE 0.2 END                           -- SCRA-ST
            WHEN entity = 'institution' THEN
                 CASE grade WHEN 'A' THEN 0.4 WHEN 'A_ENHANCED' THEN 0.3
                      WHEN 'B' THEN 0.75 ELSE 1.5 END        -- SCRA
            -- corporates
            WHEN cqs > 0 AND st_ecai AND NOT sme THEN
                 CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 1.0
                      ELSE 1.5 END                           -- Table 6A
            WHEN cqs > 0 THEN
                 CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.75
                      WHEN 4 THEN 1.0 ELSE 1.5 END           -- B31 Table 6
            WHEN sme THEN 0.85                               -- Art.122(11)
            WHEN ig THEN 0.65                                -- Art.122(6)(a)
            ELSE 1.35                                        -- Art.122(6)(b)
          END AS rw,
          CASE
            WHEN entity = 'individual' AND transactor THEN 'sa_retail_transactor'
            WHEN entity = 'individual' AND payroll THEN 'sa_retail_payroll'
            WHEN entity = 'individual' THEN 'sa_retail'
            WHEN entity = 'institution' AND cqs > 0 AND st_ecai
                 THEN 'sa_ecra_st_ecai'
            WHEN entity = 'institution' AND cqs > 0 AND st_window
                 THEN 'sa_ecra_short_term'
            WHEN entity = 'institution' AND cqs > 0 THEN 'sa_cqs_lookup'
            WHEN entity = 'institution' AND st_window THEN 'sa_scra_short_term'
            WHEN entity = 'institution' THEN 'sa_scra'
            WHEN cqs > 0 AND st_ecai AND NOT sme THEN 'sa_corp_st_ecai'
            WHEN cqs > 0 THEN 'sa_cqs_lookup'
            WHEN sme THEN 'sa_corporate_sme'
            WHEN ig THEN 'sa_corporate_ig'
            ELSE 'sa_corporate_non_ig'
          END AS rw_source
        FROM j
    )
    SELECT rw_source, count(*) AS n_exposures,
           sum(CAST(round(drawn * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((drawn * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM priced GROUP BY rw_source
    """,
    tags=("engine", "sa", "rwa"),
)
def sa_b31_rw_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The B3.1 SA risk-weight branch family through the REAL pipeline
    (ref engine/sa/risk_weights.py _b31_append_* + b31_risk_weight_tables):
    retail transactor 45% / payroll 35% (Art.123(2)/(4)), short-term
    institution routing (Table 4A dedicated ECAI beats Table 4's <=3m /
    trade-LC <=6m window; SCRA-ST for unrated), the B3.1 Table 3/Table 6
    ladders (institution CQS2 30%, corporate CQS3 75%), corporate Table 6A,
    unrated corporate SME 85% (Art.122(11)) and the IG assessment 65%/135%
    under the firm's permission (Art.122(6))."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 5 == 0, "individual")
        .when(F.col("c_custkey") % 5 == 1, "institution")
        .otherwise("corporate")
        .alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.when(F.col("c_custkey") % 2 == 0, 40000000.0)
        .otherwise(60000000.0)
        .alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
        F.when(F.col("c_custkey") % 4 == 0, "A")
        .when(F.col("c_custkey") % 4 == 1, "A_ENHANCED")
        .when(F.col("c_custkey") % 4 == 2, "B")
        .otherwise("C")
        .alias("scra_grade"),
        (F.col("c_custkey") % 3 == 0).alias("has_short_term_ecai"),
        (F.col("c_custkey") % 3 == 0).alias("is_investment_grade"),
        (F.col("c_custkey") % 4 == 0).alias("is_qrre_transactor"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        (F.col("o_totalprice") / 1000.0).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        (F.col("o_orderkey") % 6 == 0).alias("is_payroll_loan"),
        F.when(F.col("o_orderkey") % 4 == 0, 0.2)
        .when(F.col("o_orderkey") % 4 == 1, 0.4)
        .otherwise(2.0)
        .alias("original_maturity_years"),
        (F.col("o_orderkey") % 3 == 0).alias("is_short_term_trade_lc"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(
            pack=B31_PACK,
            use_investment_grade_assessment=True,
        ),
    )
    return out.results.groupBy("rw_source").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


@query(
    "sa_defaulted_provisions",
    oracle="""
    WITH loans AS (
        SELECT o_orderkey AS ok, o_totalprice AS drawn,
               (o_orderkey % 3 = 0) AS def
        FROM orders
    ), p AS (
        SELECT *,
               CASE WHEN def AND ok % 5 <> 0
                    THEN (CASE WHEN ok % 2 = 0 THEN 0.30 ELSE 0.10 END) * drawn
                    ELSE 0.0 END AS prov
        FROM loans
    ), priced AS (
        SELECT *, drawn - prov AS ead,
               CASE WHEN def AND prov >= 0.2 * drawn THEN 1.0
                    WHEN def THEN 1.5
                    ELSE 1.0 END AS rw,
               CASE WHEN def AND prov >= 0.2 * drawn
                    THEN 'sa_defaulted_high_provision'
                    WHEN def THEN 'sa_defaulted'
                    ELSE 'sa_cqs_lookup' END AS rw_source
        FROM p
    )
    SELECT rw_source, count(*) AS n_exposures,
           sum(CAST(round(ead * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((ead * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa,
           sum(CAST(round(prov * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_provisions
    FROM priced GROUP BY rw_source
    """,
    tags=("engine", "sa", "rwa", "provisions"),
)
def sa_defaulted_provisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR Art.127(1) defaulted provision test through the REAL pipeline
    (ref engine/sa/risk_weights.py _apply_defaulted_risk_weight): the
    unsecured defaulted part takes 100% where specific credit risk
    adjustments >= 20% of the pre-provision exposure value, 150% below —
    three cohorts (30% provisioned, 10% provisioned, unprovisioned) against
    a rated-corporate CQS3 performing book. Provisions deduct from EAD
    drawn-first, so the denominator reconstructs exactly to the original
    drawn amount."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        F.lit(3).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        (F.col("o_orderkey") % 3 == 0).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    provisions = o.where(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 5 != 0)
    ).select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("beneficiary_reference"),
        F.lit("exposure").alias("beneficiary_type"),
        (
            F.when(F.col("o_orderkey") % 2 == 0, 0.30).otherwise(0.10)
            * F.col("o_totalprice")
        ).alias("amount"),
        F.lit("scra").alias("provision_type"),
        F.concat(F.lit("P"), F.col("o_orderkey")).alias("provision_reference"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, provisions=provisions),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.groupBy("rw_source").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
        scaled_sum(F.col("provision_allocated"), 2).alias("total_provisions"),
    )


# ---------------------------------------------------------------------------
# Round 8: the CRR Art.116-118 / Art.137 sovereign family (PSE four-leg
# routing, MDB named/Table-2B, international organisations, ECA/MEIP
# sovereign scores) + the Art.112 Table A2 rows 3-4 classes (subordinated
# debt, high-risk) the B3.1 pack prices.
# ---------------------------------------------------------------------------


@query(
    "sa_sovereign_family",
    oracle="""
    WITH cps AS (
        SELECT c_custkey AS cp,
               CASE CAST(c_custkey % 6 AS INTEGER)
                    WHEN 0 THEN 'pse' WHEN 1 THEN 'mdb' WHEN 2 THEN 'mdb_named'
                    WHEN 3 THEN 'international_organisation'
                    WHEN 4 THEN 'sovereign' ELSE 'corporate' END AS entity,
               CAST(c_custkey % 7 AS INTEGER) AS cqs,
               CAST(1 + c_custkey % 6 AS INTEGER) AS sov_cqs,
               CAST(c_custkey % 9 AS INTEGER) AS eca,
               NOT (c_custkey % 5 = 0) AS pse_eq
        FROM customer
    ), loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp, o_totalprice AS drawn,
               CASE WHEN o_orderkey % 4 = 0 THEN 0.2 ELSE 2.0 END AS om,
               (o_orderkey % 10 = 0) AS hr, (o_orderkey % 11 = 0) AS sd
        FROM orders
    ), j AS (
        SELECT l.*, c.entity, c.cqs, c.sov_cqs, c.eca, c.pse_eq,
               -- classification mirrors the engine chain: entity gates
               -- first, then Table A2 rows 3-4, else corporate
               CASE WHEN c.entity IN ('mdb', 'mdb_named') THEN 'mdb'
                    WHEN c.entity IN ('pse', 'international_organisation',
                                      'sovereign') THEN c.entity
                    WHEN l.sd THEN 'subordinated_debt'
                    WHEN l.hr THEN 'high_risk'
                    ELSE 'corporate' END AS cls
        FROM loans l JOIN cps c ON l.cp = c.cp
    ), priced AS (
        SELECT *,
          CASE
            WHEN cls = 'international_organisation' THEN 0.0
            WHEN cls = 'mdb' AND entity = 'mdb_named' THEN 0.0
            WHEN cls = 'mdb' THEN
                 CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.3 WHEN 3 THEN 0.5
                      WHEN 4 THEN 1.0 WHEN 5 THEN 1.0 WHEN 6 THEN 1.5
                      ELSE 0.5 END
            WHEN cls = 'pse' AND NOT pse_eq THEN 1.0
            WHEN cls = 'pse' AND om <= 0.25 THEN 0.2
            WHEN cls = 'pse' AND cqs = 0 THEN
                 CASE sov_cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5
                      WHEN 6 THEN 1.5 ELSE 1.0 END
            WHEN cls = 'pse' THEN
                 CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.5
                      WHEN 6 THEN 1.5 ELSE 1.0 END
            WHEN cls = 'sovereign' AND cqs = 0 AND eca <= 7 THEN
                 CASE eca WHEN 0 THEN 0.0 WHEN 1 THEN 0.0 WHEN 2 THEN 0.2
                      WHEN 3 THEN 0.5 WHEN 7 THEN 1.5 ELSE 1.0 END
            WHEN cls = 'sovereign' THEN
                 CASE cqs WHEN 1 THEN 0.0 WHEN 2 THEN 0.2 WHEN 3 THEN 0.5
                      WHEN 6 THEN 1.5 ELSE 1.0 END
            WHEN cls = 'subordinated_debt' THEN 1.5
            WHEN cls = 'high_risk' THEN 1.5
            ELSE CASE cqs WHEN 1 THEN 0.2 WHEN 2 THEN 0.5 WHEN 3 THEN 0.75
                      WHEN 4 THEN 1.0 WHEN 5 THEN 1.5 WHEN 6 THEN 1.5
                      ELSE 1.0 END
          END AS rw,
          CASE
            WHEN cls = 'international_organisation' THEN 'sa_art118_io'
            WHEN cls = 'mdb' AND entity = 'mdb_named' THEN 'sa_mdb_named'
            WHEN cls = 'mdb' THEN 'sa_mdb_table2b'
            WHEN cls = 'pse' AND NOT pse_eq THEN 'sa_pse_non_equivalent'
            WHEN cls = 'pse' AND om <= 0.25 THEN 'sa_pse_short_term'
            WHEN cls = 'pse' AND cqs = 0 THEN 'sa_pse_sovereign_derived'
            WHEN cls = 'pse' THEN 'sa_pse_own_rating'
            WHEN cls = 'sovereign' AND cqs = 0 AND eca <= 7 THEN 'sa_eca_meip'
            WHEN cls = 'sovereign' THEN 'sa_cqs_lookup'
            WHEN cls = 'subordinated_debt' THEN 'sa_subordinated_debt'
            WHEN cls = 'high_risk' THEN 'sa_high_risk'
            ELSE 'sa_cqs_lookup'
          END AS rw_source
        FROM j
    )
    SELECT cls AS exposure_class, rw_source, count(*) AS n_exposures,
           sum(CAST(round(drawn * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((drawn * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM priced GROUP BY cls, rw_source
    """,
    tags=("engine", "sa", "rwa", "sovereign"),
)
def sa_sovereign_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CRR Art.116-118/137 sovereign family through the REAL pipeline
    (ref engine/sa/risk_weights.py PSE/MDB/IO chain + _eca_meip_rw_expr):
    PSE four-leg routing (Art.116(5) non-equivalence 100% > (3) short-term
    20% > (1) Table 2 sovereign-derived > (2) Table 2A own-rating), named
    MDBs at 0% vs Table 2B by CQS (unrated 50%), international
    organisations 0%, unrated sovereigns on the Art.137 Table 9 ECA/MEIP
    score, plus the Art.112 Table A2 rows 3-4 classes the B3.1 pack prices
    (subordinated debt / high-risk 150%, PS1/26 Art.133A/128)."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 6 == 0, "pse")
        .when(F.col("c_custkey") % 6 == 1, "mdb")
        .when(F.col("c_custkey") % 6 == 2, "mdb_named")
        .when(F.col("c_custkey") % 6 == 3, "international_organisation")
        .when(F.col("c_custkey") % 6 == 4, "sovereign")
        .otherwise("corporate")
        .alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
        (1 + F.col("c_custkey") % 6).cast("int").alias("sovereign_cqs"),
        (F.col("c_custkey") % 9).cast("int").alias("eca_meip_score"),
        (~(F.col("c_custkey") % 5 == 0)).alias("pse_jurisdiction_equivalent"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
        F.when(F.col("o_orderkey") % 4 == 0, 0.2)
        .otherwise(2.0)
        .alias("original_maturity_years"),
        (F.col("o_orderkey") % 10 == 0).alias("is_high_risk"),
        (F.col("o_orderkey") % 11 == 0).alias("is_subordinated_debt"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=B31_PACK),
    )
    return out.results.groupBy("exposure_class", "rw_source").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )


@query(
    "sa_retail_granularity",
    oracle="""
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS cp,
               (o_totalprice / 1000.0)
                   * (CASE WHEN o_custkey % 40 = 0 THEN 500.0 ELSE 1.0 END)
                   AS drawn
        FROM orders
    ), grp AS (
        SELECT *,
               sum(CAST(round(drawn * 100.0, 0) AS BIGINT)) OVER (PARTITION BY cp)
                   / CAST(100 AS DOUBLE) AS ge,
               count(*) OVER (PARTITION BY cp) AS n
        FROM loans
    ), tot AS (
        SELECT sum(CAST(round((ge / n) * 100.0, 0) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS total
        FROM grp
    ), flagged AS (
        SELECT g.*, t.total,
               g.ge > 1000000.0 AS fail_thresh,
               (t.total > 0 AND g.ge / t.total > 0.002) AS fail_gran
        FROM grp g CROSS JOIN tot t
    ), priced AS (
        SELECT *,
               CASE WHEN NOT fail_thresh AND NOT fail_gran THEN 'retail'
                    ELSE 'corporate' END AS exposure_class,
               CASE WHEN NOT fail_thresh AND NOT fail_gran
                         THEN 'CLS_RETAIL_INDIVIDUAL'
                    WHEN fail_gran THEN 'CLS_RETAIL_GRANULARITY'
                    ELSE 'CLS_RETAIL_OVER_THRESHOLD' END AS class_reason,
               CASE WHEN NOT fail_thresh AND NOT fail_gran THEN 0.75
                    ELSE 1.0 END AS rw
        FROM flagged
    )
    SELECT exposure_class, class_reason, count(*) AS n_exposures,
           sum(CAST(round(drawn * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
               AS total_ead,
           sum(CAST(round((drawn * rw) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_rwa
    FROM priced GROUP BY exposure_class, class_reason
    """,
    tags=("engine", "sa", "classify"),
)
def sa_retail_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PS1/26 Art.123A(1)(b)(ii) / CRE20.66 retail granularity limb through
    the REAL pipeline (ref classify/attributes.py granularity_fail,
    enabled via the reference's enforce_retail_granularity config): every
    40th obligor's book is inflated 500x, so its single-obligor share of
    the regulatory-retail portfolio exceeds 0.2% and it routes out of
    retail (CLS_RETAIL_GRANULARITY) — or out on the 1m threshold where the
    inflated book also breaches Art.123A(1)(b)(i). The portfolio total is
    one fixed-point scalar agg broadcast back (each obligor counted once),
    never a second pass."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK
    from rwa_calculator_spark.functions.exact import scaled_sum

    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("individual").alias("entity_type"),
        F.lit(0).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        (
            (F.col("o_totalprice") / 1000.0)
            * F.when(F.col("o_custkey") % 40 == 0, 500.0).otherwise(1.0)
        ).alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        F.lit(None).cast("double").alias("effective_maturity"),
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(
            pack=B31_PACK, enforce_retail_granularity=True
        ),
    )
    return out.results.groupBy("exposure_class", "class_reason").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )
