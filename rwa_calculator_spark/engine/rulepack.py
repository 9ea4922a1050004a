"""Regime-as-data rulepacks (ref rulebook/model.py, resolve.py, compile.py).

Every regulatory value — risk-weight tables, CCFs, floors, haircuts,
supporting factors — lives in a versioned, citation-carrying, Decimal-valued
pack that is content-hashed per run; calculations never embed literals.
The pack compiles once per run into Spark artefacts:

- small lookup tables → literal DataFrames, broadcast-joined (zero shuffle);
- scalar parameters → folded into F.lit at plan build (Catalyst constant-
  folds them, the reference's 'only Decimal→float boundary').

Values below are the public CRR / Basel 3.1 standardised tables (the same
ones the reference encodes at engine/sa/risk_weights.py and rulebook/).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RuleEntry:
    value: Decimal
    citation: str


@dataclass(frozen=True)
class RulePack:
    regime: str
    version: str
    scalars: Mapping[str, RuleEntry]
    # table name -> list of (key tuple ..., value) rows; schema per table
    tables: Mapping[str, tuple[str, tuple]]  # (schema_ddl, rows)
    # table name -> governing article (audit provenance; ref rulebook/audit.py
    # — every rule entry carries a mandatory citation)
    table_citations: Mapping[str, str] = field(default_factory=dict)

    def content_hash(self) -> str:
        payload = {
            "regime": self.regime,
            "version": self.version,
            "scalars": {k: [str(v.value), v.citation] for k, v in sorted(self.scalars.items())},
            "tables": {k: [self.tables[k][0], [list(map(str, r)) for r in self.tables[k][1]]] for k in sorted(self.tables)},
            "table_citations": dict(sorted(self.table_citations.items())),
        }
        return hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]

    def scalar(self, name: str) -> float:
        """The Decimal→float boundary: happens exactly once, here."""
        return float(self.scalars[name].value)

    def lit(self, name: str):
        return F.lit(self.scalar(name))

    def sql_lit(self, name: str):
        """The scalar as a SQL-text literal (`functions.sqltext`)."""
        from rwa_calculator_spark.functions.sqltext import lit

        return lit(self.scalar(name))

    def table_map(self, name: str) -> dict:
        """A 2-column lookup table as a plain {key: float} dict — for
        dimension-sized tables the stages compile into when-chains
        driver-side instead of joining (pd_floor_by_class, lgd_floors)."""
        _, rows = self.tables[name]
        return {r[0]: float(r[1]) for r in rows}

    def table_df(self, spark: SparkSession, name: str) -> DataFrame:
        from rwa_calculator_spark.operators.localrel import local_literal_df

        schema, rows = self.tables[name]
        return local_literal_df(
            spark, schema, [tuple(_to_py(v) for v in r) for r in rows]
        )

    def broadcast_table(self, spark: SparkSession, name: str) -> DataFrame:
        return F.broadcast(self.table_df(spark, name))

    def dim(
        self, spark: SparkSession, name: str, select: str, where: str | None = None
    ) -> DataFrame:
        """A pack table shaped for a broadcast join in one ``spark.sql``:
        ``select``/``where`` are SQL over its columns (rename the join keys
        apart from the fact side's)."""
        from rwa_calculator_spark.operators.localrel import local_literal_df

        schema, rows = self.tables[name]
        return local_literal_df(
            spark,
            schema,
            [tuple(_to_py(v) for v in r) for r in rows],
            select=select,
            where=where,
            broadcast=True,
        )

    def audit_rows(self) -> list[tuple]:
        """The full rule catalogue as provenance rows (ref rulebook/audit.py
        — the regime-as-data audit trail: every regulatory value with its
        citation and the pack content hash, so a reviewer can answer "which
        published number produced this figure, under which pack version").

        Schema-driven value extraction: a table's ``double`` columns are its
        VALUE columns (one audit row each), the rest form the lookup key;
        a table with only double columns keys on its first column. Rows:
        (regime, version, kind, name, entry_key, value, value_text,
        citation, pack_hash).
        """
        h = self.content_hash()
        rows: list[tuple] = [
            (self.regime, self.version, "scalar", k, "", float(e.value), str(e.value), e.citation, h)
            for k, e in sorted(self.scalars.items())
        ]
        for tname in sorted(self.tables):
            schema, trows = self.tables[tname]
            cols = [c.strip().split() for c in schema.split(",")]
            names = [c[0] for c in cols]
            kinds = [c[1].lower() for c in cols]
            value_ix = [i for i, k in enumerate(kinds) if k == "double"]
            key_ix = [i for i in range(len(cols)) if i not in value_ix]
            if not key_ix:  # all-double row: first column is the key
                key_ix, value_ix = [0], value_ix[1:]
            cite = self.table_citations.get(tname, "")
            for r in trows:
                key = "|".join(str(r[i]) for i in key_ix)
                if not value_ix:  # pure category map: last column is the text value
                    key = "|".join(str(r[i]) for i in key_ix[:-1])
                    rows.append(
                        (self.regime, self.version, "table", tname, key,
                         None, str(r[key_ix[-1]]), cite, h)
                    )
                    continue
                for i in value_ix:
                    rows.append(
                        (self.regime, self.version, "table",
                         f"{tname}.{names[i]}", key,
                         float(r[i]), str(r[i]), cite, h)
                    )
        return rows


def _to_py(v):
    return float(v) if isinstance(v, Decimal) else v


# EU member-state -> domestic currency (CRR Art.114(4)/(7), Art.141; ref
# rulebook CategoryMap eu_country_domestic_currency, engine/eu_sovereign.py):
# central-government/central-bank exposures denominated and funded in the
# member state's domestic currency take a 0% risk weight. Regime-invariant
# (CRE20.9 carries the equivalent Basel 3.1 domestic treatment).
_EU_DOMESTIC_CCY_SCHEMA = "country string, domestic_ccy string"
_EU_DOMESTIC_CCY_ROWS = (
    ("DE", "EUR"), ("FR", "EUR"), ("IT", "EUR"), ("ES", "EUR"),
    ("NL", "EUR"), ("BE", "EUR"), ("AT", "EUR"), ("IE", "EUR"),
    ("PT", "EUR"), ("GR", "EUR"), ("FI", "EUR"), ("LU", "EUR"),
    ("PL", "PLN"), ("SE", "SEK"), ("DK", "DKK"), ("CZ", "CZK"),
    ("HU", "HUF"), ("RO", "RON"), ("BG", "BGN"),
)

_D = Decimal

# CRR Art.232(3) life-insurance secured-RW map (insurer institution RW ->
# secured-portion RW); regime-invariant, PS1/26 Art.232(3) retains it.
_LIFE_INS_RW_SCHEMA = "insurer_rw double, secured_rw double"
_LIFE_INS_RW_ROWS = (
    (_D("0.2"), _D("0.2")),
    (_D("0.5"), _D("0.35")),
    (_D("1.0"), _D("0.7")),
    (_D("1.5"), _D("1.5")),
)

# CRR standardised risk weights by (exposure_class, cqs); cqs 0 = unrated.
# Public CRR Art. 114-122 tables (ref engine/sa/risk_weights.py).
_SA_RW_ROWS = tuple(
    (cls, cqs, _D(rw))
    for cls, row in {
        "sovereign": {1: "0.0", 2: "0.2", 3: "0.5", 4: "1.0", 5: "1.0", 6: "1.5", 0: "1.0"},
        "institution": {1: "0.2", 2: "0.5", 3: "0.5", 4: "1.0", 5: "1.0", 6: "1.5", 0: "0.5"},
        "corporate": {1: "0.2", 2: "0.5", 3: "1.0", 4: "1.0", 5: "1.5", 6: "1.5", 0: "1.0"},
    }.items()
    for cqs, rw in row.items()
)

# Basel 3.1 ladders genuinely diverge from the CRR (ref rulebook/packs/
# b31.py institution_rw_b31_ecra "Table 3 ECRA institution RW (CQS2 30%,
# unrated 40%)" + b31_corporate_risk_weights "Corporate CQS3=75% (vs CRR
# 100%)"; PRA PS1/26 Art.120 Table 3 / Art.122(2) Table 6): institution
# CQS2 50%→30%, unrated fallback 50%→40% (SCRA grading overrides where a
# grade is supplied), corporate CQS3 100%→75%. Sovereign Table 1 unchanged.
_SA_RW_ROWS_B31 = tuple(
    (cls, cqs, _D(rw))
    for cls, row in {
        "sovereign": {1: "0.0", 2: "0.2", 3: "0.5", 4: "1.0", 5: "1.0", 6: "1.5", 0: "1.0"},
        "institution": {1: "0.2", 2: "0.3", 3: "0.5", 4: "1.0", 5: "1.0", 6: "1.5", 0: "0.4"},
        "corporate": {1: "0.2", 2: "0.5", 3: "0.75", 4: "1.0", 5: "1.5", 6: "1.5", 0: "1.0"},
    }.items()
    for cqs, rw in row.items()
)

# CCF by off-balance risk bucket (CRR Annex I).
_CCF_ROWS = (
    ("full_risk", _D("1.0")),
    ("medium_risk", _D("0.5")),
    ("medium_low_risk", _D("0.2")),
    ("low_risk", _D("0.0")),
)

# Basel 3.1 CCFs genuinely diverge from CRR (BCBS CRE20.94-101 / PS1/26
# Art.111): other commitments 20% → 40%, unconditionally cancellable
# 0% → 10%. NIFs/RUFs stay 50%, direct credit substitutes 100%.
_CCF_ROWS_B31 = (
    ("full_risk", _D("1.0")),
    ("medium_risk", _D("0.5")),
    ("medium_low_risk", _D("0.4")),
    ("low_risk", _D("0.1")),
)

# Supervisory slotting (CRR Art.153(5) Table A risk weights, Art.158(6)
# Table B EL rates; ref rulebook/packs/crr.py slotting_rw_* /
# slotting_el_* lookups). One combined table keyed
# (slot_category, is_short, is_hvcre): remaining maturity < 2.5y takes the
# preferential weight, HVCRE carries its own column pair, HVCRE EL is flat
# across maturities. B3.1 (PS1/26 Art.153(5)) keeps identical values.
_SLOTTING_SCHEMA = (
    "slot_category string, is_short boolean, is_hvcre boolean, rw double, el_rate double"
)


def _slotting_rows() -> tuple:
    rw_long = {"strong": "0.70", "good": "0.90", "satisfactory": "1.15", "weak": "2.50", "default": "0.00"}
    rw_short = {"strong": "0.50", "good": "0.70", "satisfactory": "1.15", "weak": "2.50", "default": "0.00"}
    rw_hv_long = {"strong": "0.95", "good": "1.20", "satisfactory": "1.40", "weak": "2.50", "default": "0.00"}
    rw_hv_short = {"strong": "0.70", "good": "0.95", "satisfactory": "1.40", "weak": "2.50", "default": "0.00"}
    el_long = {"strong": "0.004", "good": "0.008", "satisfactory": "0.028", "weak": "0.08", "default": "0.50"}
    el_short = {"strong": "0.0", "good": "0.004", "satisfactory": "0.028", "weak": "0.08", "default": "0.50"}
    el_hvcre = {"strong": "0.004", "good": "0.004", "satisfactory": "0.028", "weak": "0.08", "default": "0.50"}
    rows = []
    for cat in ("strong", "good", "satisfactory", "weak", "default"):
        rows.append((cat, False, False, _D(rw_long[cat]), _D(el_long[cat])))
        rows.append((cat, True, False, _D(rw_short[cat]), _D(el_short[cat])))
        rows.append((cat, False, True, _D(rw_hv_long[cat]), _D(el_hvcre[cat])))
        rows.append((cat, True, True, _D(rw_hv_short[cat]), _D(el_hvcre[cat])))
    return tuple(rows)


_SLOTTING_ROWS = _slotting_rows()

# Covered-bond RW by the BOND's own CQS (CRR Art.129(4) Table 6A; PS1/26
# Art.129(4) Table 7 is value-identical). Rated path of the Art.129 branch
# (ref engine/sa/covered_bond.py, rulebook covered_bond_risk_weights).
_COVERED_BOND_RW_SCHEMA = "cqs int, rw double"
_COVERED_BOND_RW_ROWS = (
    (1, _D("0.10")), (2, _D("0.20")), (3, _D("0.20")),
    (4, _D("0.50")), (5, _D("0.50")), (6, _D("1.00")),
)

# Unrated covered-bond RW derived from the ISSUING INSTITUTION's senior
# unsecured weight (two-step chain: issuer CQS -> issuer RW -> CB RW). The
# two regimes read DIFFERENT derivation tables — CRR Art.129(5)(b) maps a
# 50% issuer weight to 20% where PS1/26 maps it to 25%, so the CRR arm
# must never be reused under B3.1 (ref engine/sa/covered_bond.py header).
_CB_DERIVATION_SCHEMA = "issuer_rw double, cb_rw double"
_CB_DERIVATION_CRR = (
    (_D("0.20"), _D("0.10")), (_D("0.50"), _D("0.20")),
    (_D("1.00"), _D("0.50")), (_D("1.50"), _D("1.00")),
)
# PS1/26 7-input chain incl. ECRA CQS2 (0.30->0.15) and SCRA Grade A
# (0.40->0.20) / B (0.75->0.35) issuer weights.
_CB_DERIVATION_B31 = (
    (_D("0.20"), _D("0.10")), (_D("0.30"), _D("0.15")),
    (_D("0.40"), _D("0.20")), (_D("0.50"), _D("0.25")),
    (_D("0.75"), _D("0.35")), (_D("1.00"), _D("0.50")),
    (_D("1.50"), _D("1.00")),
)

# CRR Art.121 Table 5: unrated institutions take the RW derived from their
# CENTRAL GOVERNMENT's credit step (sovereign-derived method). Removed
# under Basel 3.1, which grades unrated institutions via SCRA (PS1/26 /
# BCBS CRE20.21: Grade A 40%, B 75%, C 150%).
_SOV_DERIVED_INST_SCHEMA = "cqs int, rw double"
_SOV_DERIVED_INST_ROWS = (
    (1, _D("0.20")), (2, _D("0.50")), (3, _D("1.00")),
    (4, _D("1.00")), (5, _D("1.00")), (6, _D("1.50")),
)
_SCRA_INST_SCHEMA = "grade string, rw double"
# A_ENHANCED: Grade A institutions meeting the enhanced capital criteria
# take 30% (BCBS CRE20.22 / PS1/26 Art.121A; ref packs/b31.py
# b31_scra_risk_weights)
_SCRA_INST_ROWS = (
    ("A", _D("0.40")),
    ("A_ENHANCED", _D("0.30")),
    ("B", _D("0.75")),
    ("C", _D("1.50")),
)
# PS1/26 Art.120A: SCRA short-term (original maturity <= 3m) institution RW
# (ref packs/b31.py b31_scra_short_term_risk_weights)
_SCRA_INST_ST_ROWS = (
    ("A", _D("0.20")),
    ("A_ENHANCED", _D("0.20")),
    ("B", _D("0.50")),
    ("C", _D("1.50")),
)
_CQS_RW_SCHEMA = "cqs int, rw double"
# CRR Art.116(1) Table 2 / (2) Table 2A: PSE risk weights — sovereign-
# derived for unrated PSEs, own-rating otherwise (ref rulebook/packs/crr.py
# pse_risk_weights_sovereign_derived / pse_risk_weights_own_rating).
# Regime-invariant (PS1/26 Art.116 retains the CRR tables).
_PSE_SOV_DERIVED_ROWS = (
    (1, _D("0.20")), (2, _D("0.50")), (3, _D("1.00")),
    (4, _D("1.00")), (5, _D("1.00")), (6, _D("1.50")),
)
_PSE_OWN_RATING_ROWS = (
    (1, _D("0.20")), (2, _D("0.50")), (3, _D("0.50")),
    (4, _D("1.00")), (5, _D("1.00")), (6, _D("1.50")),
)
# CRR Art.117(1) Table 2B: non-named MDB RW by CQS (unrated 50% is the
# calculators' fallback, not a table row)
_MDB_TABLE_2B_ROWS = (
    (1, _D("0.20")), (2, _D("0.30")), (3, _D("0.50")),
    (4, _D("1.00")), (5, _D("1.00")), (6, _D("1.50")),
)
# CRR Art.137(1)-(2) Table 9: ECA minimum export insurance premium score →
# sovereign RW (scores 0-7; out-of-range defers to the Art.114 fallback)
_ECA_MEIP_ROWS = (
    (0, _D("0.00")), (1, _D("0.00")), (2, _D("0.20")), (3, _D("0.50")),
    (4, _D("1.00")), (5, _D("1.00")), (6, _D("1.00")), (7, _D("1.50")),
)
# PS1/26 Art.120(2) Table 4: ECRA short-term — a LONG-TERM rating mapped
# onto a <=3m exposure (CQS 1-3 20%, 4-5 50%, 6 150%)
_ECRA_ST_ROWS = (
    (1, _D("0.20")), (2, _D("0.20")), (3, _D("0.20")),
    (4, _D("0.50")), (5, _D("0.50")), (6, _D("1.50")),
)
# PS1/26 Art.120(2B) Table 4A: dedicated short-term ECAI institution
# assessment (5 bands; 4-5 both 150%)
_ECRA_ST_ECAI_ROWS = (
    (1, _D("0.20")), (2, _D("0.50")), (3, _D("1.00")),
    (4, _D("1.50")), (5, _D("1.50")),
)
# PS1/26 Art.122(3) Table 6A: dedicated short-term ECAI corporate
# assessment (CQS 4-6 all 150%) — Basel-3.1-only, the CRR has no
# short-term corporate ECAI table
_CORP_ST_ECAI_ROWS = (
    (1, _D("0.20")), (2, _D("0.50")), (3, _D("1.00")),
    (4, _D("1.50")), (5, _D("1.50")), (6, _D("1.50")),
)

# SA-CCR supervisory factors by asset class (BCBS CRE52.72 Table 2 /
# CRR Art.280a-280f; ref engine/ccr/addons.py supervisory factor tables).
_SACCR_SF_ROWS = (
    ("ir", _D("0.005")),
    ("fx", _D("0.04")),
    ("credit", _D("0.05")),
    ("equity", _D("0.32")),
    ("commodity", _D("0.18")),
)

# FCCM supervisory haircuts (CRR Art.224 Table 1 / PS1/26 Art.224 Table 1,
# 10-business-day base; ref engine/crm/haircut_tables.py / rulebook packs
# collateral_haircuts DecisionTable). Keyed (collateral_type, cqs,
# maturity_band); non-bond types key cqs=0 band='any'. The band STRUCTURE
# is itself pack data ("haircut_bands": band, lo, hi) — CRR uses 3 bands
# (0-1y, 1-5y, 5y+), Basel 3.1 uses 5 (0-1y, 1-3y, 3-5y, 5-10y, 10y+).
_HAIRCUT_SCHEMA = "collateral_type string, cqs int, maturity_band string, haircut double"
_HAIRCUT_BANDS_SCHEMA = "maturity_band string, lo double, hi double"

_HAIRCUT_BANDS_CRR = (
    ("0_1y", _D("-1"), _D("1")),
    ("1_5y", _D("1"), _D("5")),
    ("5y_plus", _D("5"), _D("1000000000")),
)
_HAIRCUT_BANDS_B31 = (
    ("0_1y", _D("-1"), _D("1")),
    ("1_3y", _D("1"), _D("3")),
    ("3_5y", _D("3"), _D("5")),
    ("5_10y", _D("5"), _D("10")),
    ("10y_plus", _D("10"), _D("1000000000")),
)


def _haircut_rows(gold: str, eq_main: str, eq_other: str, bands: tuple, bonds: dict) -> tuple:
    rows = [
        ("cash", 0, "any", _D("0.00")),
        ("gold", 0, "any", _D(gold)),
        ("equity_main", 0, "any", _D(eq_main)),
        ("equity_other", 0, "any", _D(eq_other)),
    ]
    for btype, per_cqs in bonds.items():
        for cqs, values in per_cqs.items():
            rows += [
                (btype, cqs, band, _D(v)) for (band, _, _), v in zip(bands, values)
            ]
    return tuple(rows)


# CRR Art.224 Table 1 (3-band printed values, incl. the securitisation
# column gated to CQS 1-3 per Art.197(1)(h))
_HAIRCUT_ROWS_CRR = _haircut_rows(
    gold="0.15", eq_main="0.15", eq_other="0.25", bands=_HAIRCUT_BANDS_CRR,
    bonds={
        "govt_bond": {1: ("0.005", "0.02", "0.04"), 2: ("0.01", "0.03", "0.06"),
                      3: ("0.01", "0.03", "0.06"), 4: ("0.15", "0.15", "0.15")},
        "corp_bond": {1: ("0.01", "0.04", "0.08"), 2: ("0.02", "0.06", "0.12"),
                      3: ("0.02", "0.06", "0.12")},
        "securitisation": {1: ("0.02", "0.08", "0.16"), 2: ("0.04", "0.12", "0.24"),
                           3: ("0.04", "0.12", "0.24")},
    },
)

# PS1/26 Art.224 Table 1 / BCBS CRE22.52: 5 maturity bands; corporate/
# institution long-end steps up (CQS1 10y+ 12%, CQS2-3 10y+ 20%); sovereign
# CQS2-3 caps at 6%; gold 20%, main-index equity 20%, other equity 30%.
_HAIRCUT_ROWS_B31 = _haircut_rows(
    gold="0.20", eq_main="0.20", eq_other="0.30", bands=_HAIRCUT_BANDS_B31,
    bonds={
        "govt_bond": {1: ("0.005", "0.02", "0.02", "0.04", "0.04"),
                      2: ("0.01", "0.03", "0.03", "0.06", "0.06"),
                      3: ("0.01", "0.03", "0.03", "0.06", "0.06"),
                      4: ("0.15", "0.15", "0.15", "0.15", "0.15")},
        "corp_bond": {1: ("0.01", "0.03", "0.04", "0.06", "0.12"),
                      2: ("0.02", "0.04", "0.06", "0.12", "0.20"),
                      3: ("0.02", "0.04", "0.06", "0.12", "0.20")},
        "securitisation": {1: ("0.02", "0.08", "0.08", "0.16", "0.16"),
                           2: ("0.04", "0.12", "0.12", "0.24", "0.24"),
                           3: ("0.04", "0.12", "0.12", "0.24", "0.24")},
    },
)

# Per-exposure-class IRB PD floors (ref rulebook/packs/{crr,b31}.py
# "pd_floors" + engine/irb/formulas.py _pd_floor_expression): under CRR the
# 0.03% floor has two homes and one gap — Art.160(1) corporates/institutions,
# Art.163(1) retail, and NO article reaches central governments/central
# banks, so the CRR sovereign floor is 0. PS1/26 (BCBS CRE30.55)
# differentiates: retail mortgage and QRRE revolvers 0.10%, QRRE
# transactors and everything else 0.05%.
_PD_FLOOR_SCHEMA = "floor_class string, pd_floor double"
_PD_FLOOR_CLASSES = (
    "corporate", "corporate_sme", "sovereign", "institution",
    "retail_mortgage", "retail_other", "retail_qrre_transactor",
    "retail_qrre_revolver",
)
_PD_FLOOR_ROWS_CRR = tuple(
    (k, _D("0" if k == "sovereign" else "0.0003")) for k in _PD_FLOOR_CLASSES
)
_PD_FLOOR_ROWS_B31 = tuple(
    (
        k,
        _D(
            "0.0010"
            if k in ("retail_mortgage", "retail_qrre_revolver")
            else "0.0005"
        ),
    )
    for k in _PD_FLOOR_CLASSES
)

# A-IRB LGD floors (ref rulebook/packs/b31.py "lgd_floors" + engine/irb/
# formulas.py _lgd_floor_* builders): CRR has none (all zero, feature off);
# PS1/26 Art.161(5) corporate — 25% unsecured with per-collateral-type
# secured floors (financial 0%, receivables/RE 10%, other physical 15%) —
# and Art.164(4) retail — RRE 5%, QRRE 50%, other 30%.
_LGD_FLOOR_SCHEMA = "floor_key string, lgd_floor double"
_LGD_FLOOR_KEYS_B31 = {
    "unsecured": "0.25",
    "financial_collateral": "0.0",
    "receivables": "0.10",
    "residential_real_estate": "0.10",
    "commercial_real_estate": "0.10",
    "other_physical": "0.15",
    "retail_rre": "0.05",
    "retail_qrre_unsecured": "0.50",
    "retail_other_unsecured": "0.30",
}
_LGD_FLOOR_ROWS_CRR = tuple((k, _D("0.0")) for k in _LGD_FLOOR_KEYS_B31)
_LGD_FLOOR_ROWS_B31 = tuple((k, _D(v)) for k, v in _LGD_FLOOR_KEYS_B31.items())

CRR_PACK = RulePack(
    regime="crr",
    version="2026-01",
    scalars={
        "retail_rw": RuleEntry(_D("0.75"), "CRR Art.123"),
        "retail_threshold": RuleEntry(_D("1000000"), "CRR Art.123(c) EUR 1m"),
        # CRR monetary thresholds are EUR source amounts converted to the
        # reporting currency at the run's EUR rate (ref engine/thresholds.py
        # "the FX seam", fx_rate_sync.py); B3.1 values are PRA-native GBP
        # (Feature off). The rate is a market input from fx_rates, never
        # pack data.
        "thresholds_fx_derived": RuleEntry(_D("1"), "CRR Art.123/501 EUR bases"),
        "sme_revenue_cap": RuleEntry(_D("50000000"), "CRR2 Art.501(2)(b) EUR 50m"),
        # CRR Art.4(1)(128D) / Recommendation 2003/361/EC Art.2(1): an
        # enterprise is SME-sized on EITHER criterion — annual turnover
        # < EUR 50m OR balance-sheet total < EUR 43m (the turnover cap is
        # shared with the Art.501 factor above; the balance-sheet limb is
        # the SIZE test only, never the supporting-factor tier base)
        "sme_balance_sheet_cap": RuleEntry(_D("43000000"), "2003/361/EC Art.2(1) EUR 43m"),
        # CRR Art.233(3): a credit derivative whose credit events do not
        # include restructuring of the underlying obligation loses 40% of
        # its protection value
        "cds_restructuring_haircut": RuleEntry(_D("0.40"), "CRR Art.233(3)"),
        "re_secured_rw": RuleEntry(_D("0.35"), "CRR Art.125"),
        "defaulted_rw": RuleEntry(_D("1.5"), "CRR Art.127"),
        "defaulted_rw_secured": RuleEntry(_D("1.0"), "CRR Art.127(1)"),
        # CRR Art.127(1) provision test on the UNSECURED defaulted part:
        # 100% where specific credit risk adjustments are >= 20% of the
        # pre-provision exposure value, 150% below (ref rulebook/packs/
        # crr.py crr_defaulted_rw_{high,low}_provision + threshold;
        # engine/sa/risk_weights.py _apply_defaulted_risk_weight)
        "defaulted_rw_high_provision": RuleEntry(_D("1.0"), "CRR Art.127(1)(b)"),
        "defaulted_rw_low_provision": RuleEntry(_D("1.5"), "CRR Art.127(1)(a)"),
        "defaulted_provision_threshold": RuleEntry(_D("0.20"), "CRR Art.127(1)"),
        # CRR Art.123 second subparagraph (CRR2 Reg (EU) 2019/876 F68):
        # payroll/pension-secured retail loans take 35%
        "retail_payroll_rw": RuleEntry(_D("0.35"), "CRR Art.123 (CRR2 F68)"),
        "unrated_corp_rw": RuleEntry(_D("1.0"), "CRR Art.122(2)"),
        # CRR Art.116/117/118 PSE / MDB / IO invariant scalars (ref
        # rulebook/packs/common.py:477-540)
        "pse_short_term_rw": RuleEntry(_D("0.20"), "CRR Art.116(3) short-term PSE 20%"),
        "pse_unrated_rw": RuleEntry(_D("1.0"), "CRR Art.116(1) unrated fallback 100%"),
        "pse_non_equivalent_rw": RuleEntry(
            _D("1.0"), "CRR Art.116(5) third-country PSE without equivalence 100%"
        ),
        "mdb_named_rw": RuleEntry(_D("0.0"), "CRR Art.117(2) named MDB 0%"),
        "mdb_unrated_rw": RuleEntry(_D("0.50"), "CRR Art.117(1) unrated MDB 50%"),
        "io_rw": RuleEntry(_D("0.0"), "CRR Art.118 international organisations 0%"),
        # CRR Art.115(5): UK RGLA exposures denominated and funded in
        # sterling take 20% (the 'GB'/'GBP' carrier convention)
        "rgla_domestic_rw": RuleEntry(_D("0.20"), "CRR Art.115(5) / PS1/26 Art.115"),
        # CRR2 Art.501 tiered SME factor: 0.7619 on the group drawn amount
        # up to the threshold, 0.85 on the excess, blended per row
        "sme_supporting_factor": RuleEntry(_D("0.7619"), "CRR2 Art.501 (tier 1)"),
        "sme_factor_above_threshold": RuleEntry(_D("0.85"), "CRR2 Art.501 (tier 2)"),
        "sme_exposure_threshold": RuleEntry(_D("2500000"), "CRR2 Art.501(2) EUR 2.5m"),
        "infra_supporting_factor": RuleEntry(_D("0.75"), "CRR Art.501a"),
        "pd_floor": RuleEntry(_D("0.0003"), "CRR Art.160(1)"),
        "lgd_floor_unsecured": RuleEntry(_D("0.0"), "CRR Art.161"),
        # CRR carries no A-IRB LGD input floors (Art.161 sets F-IRB
        # supervisory LGDs, not A-IRB floors) — feature off
        "airb_lgd_floor": RuleEntry(_D("0"), "CRR — no A-IRB LGD floors"),
        # Art.162 maturity-treatment regime features (ref rulebook/packs/
        # crr.py — PS1/26 drops the one-day derivation and the fixed F-IRB
        # limb but adds the revolving termination-date rung)
        "one_day_maturity_floor": RuleEntry(
            _D("1"), "CRR Art.162(3)(b) short-term trade-finance one-day floor"
        ),
        "revolving_uses_termination_maturity": RuleEntry(
            _D("0"), "CRR Art.162 — standard M derivation for revolvers"
        ),
        "firb_fixed_supervisory_maturity": RuleEntry(
            _D("1"), "CRR Art.162(1) fixed F-IRB supervisory M (Art.143 election)"
        ),
        "firb_fixed_supervisory_maturity_years": RuleEntry(
            _D("2.5"), "CRR Art.162(1)"
        ),
        # Art.213(1)(c)(i): unilateral CANCEL makes UCP ineligible in both
        # regimes; the unilateral-CHANGE arm is PS1/26-only
        "ucp_unilateral_change_ineligible": RuleEntry(
            _D("0"), "CRR Art.213(1)(c)(i) — cancel arm only"
        ),
        # CRR Art.164(4): retail-RE PORTFOLIO EW-avg LGD floors (warning
        # check at the aggregator; B3.1 disables — its per-exposure A-IRB
        # floors supersede)
        "crr_retail_re_portfolio_lgd_floor": RuleEntry(
            _D("1"), "CRR Art.164(4) portfolio LGD floor check"
        ),
        # PS1/26 Art.114(2A) central-bank/sovereign CQS read-across is a
        # B3.1 innovation — no CRR counterpart
        "central_bank_uses_sovereign_cqs": RuleEntry(
            _D("0"), "CRR Art.114 — no Art.114(2A) read-across"
        ),
        "retail_residential_re_portfolio_lgd_floor": RuleEntry(
            _D("0.10"), "CRR Art.164(4)"
        ),
        "retail_commercial_re_portfolio_lgd_floor": RuleEntry(
            _D("0.15"), "CRR Art.164(4)"
        ),
        # CRR Art.153(1): RWA = 12.5 · 1.06 · K · EAD for non-defaulted IRB
        "irb_scaling_factor": RuleEntry(_D("1.06"), "CRR Art.153(1)"),
        "output_floor_alpha": RuleEntry(_D("0.0"), "n/a in CRR"),
        "fx_haircut": RuleEntry(_D("0.08"), "CRR Art.224"),
        "fcsm_rw_floor": RuleEntry(_D("0.2"), "CRR Art.222(3) FCSM 20% floor"),
        # IRB simple risk-weight method (CRR Art.155(2); ref
        # engine/equity/calculator.py:760-762): diversified private equity
        # 190% / exchange-traded 290% / other 370%, EL 0.8%/0.8%/2.4%
        "equity_irb_available": RuleEntry(_D("1"), "CRR Art.155 (IRB equity available)"),
        "equity_pe_diversified_rw": RuleEntry(_D("1.9"), "CRR Art.155(2)"),
        "equity_exchange_traded_rw": RuleEntry(_D("2.9"), "CRR Art.155(2)"),
        "equity_other_rw": RuleEntry(_D("3.7"), "CRR Art.155(2)"),
        "equity_el_standard": RuleEntry(_D("0.008"), "CRR Art.158(7)"),
        "equity_el_other": RuleEntry(_D("0.024"), "CRR Art.158(7)"),
        # SA-CCR alpha (CRR Art.274(2)) and SFT FX add-on scale
        "saccr_alpha": RuleEntry(_D("1.4"), "CRR Art.274(2)"),
        # PFE multiplier floor F (CRR Art.278(3); ref engine/ccr/pfe.py)
        "pfe_multiplier_floor": RuleEntry(_D("0.05"), "CRR Art.278(3)"),
        # CRR Art.113(6): 0% RW for intragroup exposures inside the
        # core-UK-group perimeter, individual-basis runs only (ref
        # engine/stages/scope/resolver.py:233 _cug_eligibility,
        # engine/sa/rw_adjustments.py apply_intragroup_zero_rw)
        "intragroup_zero_rw_enabled": RuleEntry(_D("1"), "CRR Art.113(6)"),
        "intragroup_zero_rw_pct": RuleEntry(_D("0.0"), "CRR Art.113(6)"),

        # SEC-SA distillation: RW = max(floor, 12.5·K_SA·p) with the flat
        # pool capital K_SA = 8% and p = 1 (CRR Art.261; the full SSFA
        # tranche integral is out of scope — shape and floor are real)
        "secsa_ksa": RuleEntry(_D("0.08"), "CRR Art.261 (distilled K_SA)"),
        "secsa_p": RuleEntry(_D("1.0"), "CRR Art.261(1) p-factor"),
        "secsa_p_sts": RuleEntry(_D("0.5"), "CRR Art.262(1) STS p-factor"),
        "secsa_floor_rw": RuleEntry(_D("0.15"), "CRR Art.261(1) 15% floor"),
        # SEC-IRBA supervisory-p coefficients, senior granular wholesale
        # row of the CRR Art.259(1) table; p floors at 0.3
        "secirba_p_floor": RuleEntry(_D("0.3"), "CRR Art.259(1)"),
        "secirba_coef_a": RuleEntry(_D("0"), "CRR Art.259(1) Table 1"),
        "secirba_coef_b": RuleEntry(_D("3.56"), "CRR Art.259(1) Table 1"),
        "secirba_coef_c": RuleEntry(_D("-1.85"), "CRR Art.259(1) Table 1"),
        "secirba_coef_d": RuleEntry(_D("0.55"), "CRR Art.259(1) Table 1"),
        "secirba_coef_e": RuleEntry(_D("0.07"), "CRR Art.259(1) Table 1"),
        # Art.121 sovereign-derived unrated-institution method is a
        # CRR-only Feature (B3.1 replaces it with SCRA grading)
        "sovereign_derived_institutions": RuleEntry(_D("1"), "CRR Art.121"),
        # CRR Art.306(1) / BCBS CRE54.14-15: trade exposures to a
        # QUALIFYING CCP — 2% for a clearing member's own trades, 4% for
        # client-cleared trades through a clearing member; a NON-qualifying
        # CCP demotes to the institution treatment (Art.107(2)(a), applied
        # at classify). Regime-invariant (CRE54 carries the same weights).
        "qccp_trade_rw": RuleEntry(_D("0.02"), "CRR Art.306(1)(a)"),
        "qccp_client_cleared_rw": RuleEntry(_D("0.04"), "CRR Art.306(1)(c)"),
        # IRB unfunded-protection treatment (ref engine/irb/guarantee.py):
        # F-IRB supervisory LGDs for the guarantor leg (Art.161(1)), and the
        # Art.153(3) double-default multiplier K_dd = K·(base + slope·PD_g)
        "firb_lgd_senior": RuleEntry(_D("0.45"), "CRR Art.161(1)(a)"),
        "firb_lgd_senior_fse": RuleEntry(_D("0.45"), "CRR Art.161(1)(a)"),
        "firb_lgd_subordinated": RuleEntry(_D("0.75"), "CRR Art.161(1)(b)"),
        # Art.161(1)(e)/(f)/(g): purchased-receivables sub-type supervisory
        # LGDs — dispatch via purchased_receivables_subtype, NOT seniority
        # (subordinated purchased receivables deviate from the standard 75%)
        "firb_lgd_pr_senior": RuleEntry(_D("0.45"), "CRR Art.161(1)(e)"),
        "firb_lgd_pr_subordinated": RuleEntry(_D("1.00"), "CRR Art.161(1)(f)"),
        "firb_lgd_dilution": RuleEntry(_D("0.75"), "CRR Art.161(1)(g)"),
        "double_default_available": RuleEntry(_D("1"), "CRR Art.153(3), 202-203"),
        "dd_k_base": RuleEntry(_D("0.15"), "CRR Art.153(3)"),
        "dd_k_slope": RuleEntry(_D("160"), "CRR Art.153(3)"),
        # Basel-3.1-only post-base SA adjustments (Features, off under CRR;
        # ref engine/sa/rw_adjustments.py)
        "sa_currency_mismatch_multiplier": RuleEntry(_D("0"), "no CRR analogue"),
        "sa_due_diligence_override": RuleEntry(_D("0"), "no CRR analogue"),
        # Art.155(3)/165 PD/LGD equity approach (CRR only — gated by
        # equity_irb_available; ref engine/equity/calculator.py
        # _apply_equity_weights_pd_lgd)
        "equity_pdlgd_pd_floor_listed": RuleEntry(_D("0.004"), "CRR Art.165(1)(c)"),
        "equity_pdlgd_pd_floor_other": RuleEntry(_D("0.0125"), "CRR Art.165(1)(d)"),
        "equity_pdlgd_lgd_diversified": RuleEntry(_D("0.65"), "CRR Art.165(2)"),
        "equity_pdlgd_lgd_other": RuleEntry(_D("0.9"), "CRR Art.165(2)"),
        "equity_pdlgd_maturity": RuleEntry(_D("5"), "CRR Art.165(3)"),
        "equity_pdlgd_no_dd_scaling": RuleEntry(_D("1.5"), "CRR Art.155(3) (no Art.178 data)"),
        # F-IRB CCFs (CRR Art.166(8)/(10); ref engine/ccf.py
        # _firb_ccf_for_col): 75% for commitments / credit lines / NIFs /
        # RUFs, 20% short-term trade LC carve-out, Annex I fallback for
        # issued items. PS1/26 Art.166C instead reads the SA Table A1
        # CCFs, so the Feature is CRR-only.
        "firb_ccf_bespoke": RuleEntry(_D("1"), "CRR Art.166(8)"),
        "firb_credit_line_ccf": RuleEntry(_D("0.75"), "CRR Art.166(8)(d)"),
        "firb_trade_lc_ccf": RuleEntry(_D("0.2"), "CRR Art.166(8)(b)"),
        # CRR Annex I items 2(b)/3(b): "other commitments" drop from the
        # 50% MR rate to 20% when ORIGINAL maturity ≤ 1 year (ref
        # engine/ccf.py _apply_oc_original_maturity_ccf); B3.1 replaced
        # the split with the flat committed/UCC rates.
        "sa_oc_maturity_split": RuleEntry(_D("1"), "CRR Annex I 2(b)/3(b)"),
        "oc_short_maturity_ccf": RuleEntry(_D("0.2"), "CRR Annex I 3(b)"),
    },
    tables={
        "sa_rw": ("exposure_class string, cqs int, rw double", _SA_RW_ROWS),
        # CRR Art.116/117/137 sovereign-family tables (regime-invariant;
        # ref rulebook/packs/crr.py:981-1052 + common.py eca_meip)
        "pse_sovereign_derived_rw": (_CQS_RW_SCHEMA, _PSE_SOV_DERIVED_ROWS),
        "pse_own_rating_rw": (_CQS_RW_SCHEMA, _PSE_OWN_RATING_ROWS),
        "mdb_rw_table2b": (_CQS_RW_SCHEMA, _MDB_TABLE_2B_ROWS),
        "eca_meip_rw": ("score int, rw double", _ECA_MEIP_ROWS),
        # CRR Art.115(1) Tables 1A/1B: RGLA sovereign-derived / own-rating
        # (values shared with the PSE Art.116 tables; separate names keep
        # the citations honest)
        "rgla_sovereign_derived_rw": (_CQS_RW_SCHEMA, _PSE_SOV_DERIVED_ROWS),
        "rgla_own_rating_rw": (_CQS_RW_SCHEMA, _PSE_OWN_RATING_ROWS),
        "ccf": ("risk_bucket string, ccf double", _CCF_ROWS),
        "slotting_rw": (_SLOTTING_SCHEMA, _SLOTTING_ROWS),
        "saccr_sf": ("asset_class string, sf double", _SACCR_SF_ROWS),
        "collateral_haircuts": (_HAIRCUT_SCHEMA, _HAIRCUT_ROWS_CRR),
        "haircut_bands": (_HAIRCUT_BANDS_SCHEMA, _HAIRCUT_BANDS_CRR),
        "eu_domestic_ccy": (_EU_DOMESTIC_CCY_SCHEMA, _EU_DOMESTIC_CCY_ROWS),
        "life_ins_rw_map": (_LIFE_INS_RW_SCHEMA, _LIFE_INS_RW_ROWS),
        "covered_bond_rw": (_COVERED_BOND_RW_SCHEMA, _COVERED_BOND_RW_ROWS),
        "covered_bond_unrated_derivation": (_CB_DERIVATION_SCHEMA, _CB_DERIVATION_CRR),
        "institution_rw_sovereign_derived": (_SOV_DERIVED_INST_SCHEMA, _SOV_DERIVED_INST_ROWS),
        "pd_floor_by_class": (_PD_FLOOR_SCHEMA, _PD_FLOOR_ROWS_CRR),
        "lgd_floors": (_LGD_FLOOR_SCHEMA, _LGD_FLOOR_ROWS_CRR),
    },
    table_citations={
        "sa_rw": "CRR Art.114-122",
        "pse_sovereign_derived_rw": "CRR Art.116(1) Table 2",
        "pse_own_rating_rw": "CRR Art.116(2) Table 2A",
        "mdb_rw_table2b": "CRR Art.117(1) Table 2B",
        "eca_meip_rw": "CRR Art.137(1)-(2) Table 9",
        "rgla_sovereign_derived_rw": "CRR Art.115(1)(a) Table 1A",
        "rgla_own_rating_rw": "CRR Art.115(1)(b) Table 1B",
        "pd_floor_by_class": "CRR Art.160(1)/163(1) (sovereigns unfloored)",
        "lgd_floors": "CRR Art.161 — no A-IRB LGD input floors",
        "covered_bond_rw": "CRR Art.129(4) Table 6A",
        "covered_bond_unrated_derivation": "CRR Art.129(5)(a)-(d)",
        "institution_rw_sovereign_derived": "CRR Art.121 Table 5",
        "ccf": "CRR Annex I",
        "slotting_rw": "CRR Art.153(5) Table A / Art.158(6) Table B",
        "saccr_sf": "CRR Art.280a-280f",
        "collateral_haircuts": "CRR Art.224 Table 1",
        "haircut_bands": "CRR Art.224 (3 maturity bands)",
        "eu_domestic_ccy": "CRR Art.114(4)/(7), Art.141",
        "life_ins_rw_map": "CRR Art.232(3)/233(3)",
    },
)

B31_PACK = RulePack(
    regime="b31",
    version="2026-01",
    scalars={
        "retail_rw": RuleEntry(_D("0.75"), "BCBS CRE20.65"),
        "retail_threshold": RuleEntry(_D("1000000"), "BCBS CRE20.65 (native)"),
        # Art.123A two-path retail qualification feature (ref rulebook/
        # packs/b31.py retail_art_123a_two_path_applicable): SMEs
        # auto-qualify by size without pool attestation (limb a); non-SMEs
        # need the managed-as-retail attestation, null defaulting to True
        # (limb b(iii) KEEP semantics). CRR has no Art.123A — threshold only.
        "retail_art_123a_two_path": RuleEntry(
            _D("1"), "PS1/26 Art.123A(1)(a)-(b)"
        ),
        "thresholds_fx_derived": RuleEntry(_D("0"), "PS1/26 native GBP thresholds"),
        "sme_revenue_cap": RuleEntry(_D("50000000"), "PS1/26 Art.501 native"),
        "sme_balance_sheet_cap": RuleEntry(_D("43000000"), "PS1/26 Art.4 SME (native)"),
        "cds_restructuring_haircut": RuleEntry(_D("0.40"), "PS1/26 Art.233(3)"),
        "re_secured_rw": RuleEntry(_D("0.30"), "BCBS CRE20.71 (LTV<60%)"),
        "defaulted_rw": RuleEntry(_D("1.5"), "BCBS CRE20.104"),
        "defaulted_rw_secured": RuleEntry(_D("1.0"), "BCBS CRE20.105"),
        # PS1/26 Art.127(1) provision test (denominator = gross outstanding,
        # unlike the CRR's pre-provision EXPOSURE VALUE — the
        # defaulted_denom_gross_outstanding Feature flips the basis; ref
        # engine/sa/risk_weights.py _apply_defaulted_risk_weight B31 arm)
        "defaulted_rw_high_provision": RuleEntry(_D("1.0"), "PS1/26 Art.127(1)"),
        "defaulted_rw_low_provision": RuleEntry(_D("1.5"), "PS1/26 Art.127(1)"),
        "defaulted_provision_threshold": RuleEntry(_D("0.20"), "PS1/26 Art.127(1)"),
        "defaulted_denom_gross_outstanding": RuleEntry(
            _D("1"), "PS1/26 Art.127(1) 'outstanding amount of the item'"
        ),
        # PS1/26 Art.127(3) / CRE20.88: a defaulted general (non-income-
        # dependent) residential-RE exposure takes 100% flat regardless of
        # provisions
        "defaulted_resi_re_non_income_rw": RuleEntry(
            _D("1.0"), "PS1/26 Art.127(3) / CRE20.88"
        ),
        # PS1/26 Art.123 retail product branches: QRRE transactor 45%
        # (Art.123(2)), payroll/pension loans 35% (Art.123(4))
        "retail_transactor_rw": RuleEntry(_D("0.45"), "PS1/26 Art.123(2) / CRE20.66"),
        "retail_payroll_rw": RuleEntry(_D("0.35"), "PS1/26 Art.123(4)"),
        # PS1/26 Art.122(11): unrated corporate SME 85% (CRE20.47)
        "corporate_sme_rw": RuleEntry(_D("0.85"), "PS1/26 Art.122(11) / CRE20.47"),
        # PS1/26 Art.122(6)/(8): investment-grade assessment for unrated
        # corporates — IG 65% / non-IG 135%, active only under the firm's
        # PRA permission (PipelineConfig.use_investment_grade_assessment)
        "corporate_ig_rw": RuleEntry(_D("0.65"), "PS1/26 Art.122(6)(a) / CRE20.46"),
        "corporate_non_ig_rw": RuleEntry(_D("1.35"), "PS1/26 Art.122(6)(b)"),
        "unrated_corp_rw": RuleEntry(_D("1.0"), "BCBS CRE20.25"),
        # CRR Art.116/117/118 PSE / MDB / IO invariant scalars (ref
        # rulebook/packs/common.py:477-540)
        "pse_short_term_rw": RuleEntry(_D("0.20"), "CRR Art.116(3) short-term PSE 20%"),
        "pse_unrated_rw": RuleEntry(_D("1.0"), "CRR Art.116(1) unrated fallback 100%"),
        "pse_non_equivalent_rw": RuleEntry(
            _D("1.0"), "CRR Art.116(5) third-country PSE without equivalence 100%"
        ),
        "mdb_named_rw": RuleEntry(_D("0.0"), "CRR Art.117(2) named MDB 0%"),
        "mdb_unrated_rw": RuleEntry(_D("0.50"), "CRR Art.117(1) unrated MDB 50%"),
        "io_rw": RuleEntry(_D("0.0"), "CRR Art.118 international organisations 0%"),
        # CRR Art.115(5): UK RGLA exposures denominated and funded in
        # sterling take 20% (the 'GB'/'GBP' carrier convention)
        "rgla_domestic_rw": RuleEntry(_D("0.20"), "CRR Art.115(5) / PS1/26 Art.115"),
        # PS1/26 Art.128/133A high-risk + subordinated-debt classes (B3.1
        # only: Art.128 was omitted from UK CRR by SI 2021/1078, so the CRR
        # path prices both through the residual 100%; ref packs/common.py
        # high_risk_rw + packs/b31.py b31_subordinated_debt_rw)
        "high_risk_rw": RuleEntry(_D("1.5"), "PS1/26 Art.128 / CRE20.49-52"),
        "subordinated_debt_rw": RuleEntry(_D("1.5"), "PS1/26 Art.133A / CRE20.49"),
        # PS1/26 Art.123A(1)(b)(ii) / BCBS CRE20.66: single-obligor share
        # of the regulatory-retail portfolio capped at 0.2% (the limb is
        # applied when PipelineConfig.enforce_retail_granularity is on —
        # CRE20.66 allows suppression where granularity is assessed by
        # another method)
        "retail_granularity_limit": RuleEntry(
            _D("0.002"), "PS1/26 Art.123A(1)(b)(ii) / CRE20.66"
        ),
        "sme_supporting_factor": RuleEntry(_D("1.0"), "removed in B3.1"),
        "sme_factor_above_threshold": RuleEntry(_D("1.0"), "removed in B3.1"),
        "sme_exposure_threshold": RuleEntry(_D("2500000"), "n/a in B3.1"),
        "infra_supporting_factor": RuleEntry(_D("1.0"), "removed in B3.1"),
        "pd_floor": RuleEntry(_D("0.0005"), "BCBS CRE36.79 (B3.1)"),
        "lgd_floor_unsecured": RuleEntry(_D("0.25"), "BCBS CRE36.86"),
        "airb_lgd_floor": RuleEntry(
            _D("1"), "PS1/26 Art.161(5)/164(4) A-IRB LGD input floors"
        ),
        "one_day_maturity_floor": RuleEntry(
            _D("0"), "PS1/26 Art.162 — no one-day-floor derivation"
        ),
        "revolving_uses_termination_maturity": RuleEntry(
            _D("1"), "PS1/26 Art.162(2A)(k) revolvers use facility termination date"
        ),
        "firb_fixed_supervisory_maturity": RuleEntry(
            _D("0"), "PS1/26 Art.162(1) left blank — no fixed F-IRB M"
        ),
        "firb_fixed_supervisory_maturity_years": RuleEntry(
            _D("2.5"), "n/a under PS1/26 (feature off)"
        ),
        "ucp_unilateral_change_ineligible": RuleEntry(
            _D("1"), "PS1/26 Art.213(1)(c)(i) — adds the unilateral-change arm"
        ),
        "crr_retail_re_portfolio_lgd_floor": RuleEntry(
            _D("0"),
            "PS1/26 — superseded by the per-exposure Art.164(4) A-IRB floors",
        ),
        "central_bank_uses_sovereign_cqs": RuleEntry(
            _D("1"), "PS1/26 Art.114(2A) central-bank CQS read-across"
        ),
        "retail_residential_re_portfolio_lgd_floor": RuleEntry(
            _D("0.10"), "n/a under PS1/26 (check disabled)"
        ),
        "retail_commercial_re_portfolio_lgd_floor": RuleEntry(
            _D("0.15"), "n/a under PS1/26 (check disabled)"
        ),
        # scaling factor removed under Basel 3.1 (BCBS CRE30-36 / PS1/26)
        "irb_scaling_factor": RuleEntry(_D("1.0"), "removed in B3.1"),
        "output_floor_alpha": RuleEntry(_D("0.725"), "BCBS RBC20.11"),
        "fx_haircut": RuleEntry(_D("0.08"), "BCBS CRE22.52"),
        "fcsm_rw_floor": RuleEntry(_D("0.2"), "PS1/26 Art.222 FCSM 20% floor"),
        # B3.1 removed the IRB equity approaches — all equity uses SA
        # (PS1/26 Art.133(3)-(5); ref rulebook/packs/b31.py:513-529):
        # standard 250%, speculative unlisted 400%, no slotting-style EL
        "equity_irb_available": RuleEntry(_D("0"), "PS1/26 Art.133 (IRB equity removed)"),
        "equity_standard_rw": RuleEntry(_D("2.5"), "PS1/26 Art.133(3)"),
        "equity_speculative_rw": RuleEntry(_D("4.0"), "PS1/26 Art.133(4)"),
        # PRA Rules 4.1-4.10 equity transitional Feature gate (the dated RW
        # steps live in the equity_transitional_rw table; ref
        # rulebook/packs/b31.py:740-761 Schedules)
        "equity_transitional": RuleEntry(_D("1"), "PRA PS1/26 Rules 4.1-4.10"),
        "saccr_alpha": RuleEntry(_D("1.4"), "BCBS CRE52.1"),
        "pfe_multiplier_floor": RuleEntry(_D("0.05"), "BCBS CRE52.23"),
        "intragroup_zero_rw_enabled": RuleEntry(_D("1"), "PS1/26 Art.113(6)"),
        "intragroup_zero_rw_pct": RuleEntry(_D("0.0"), "PS1/26 Art.113(6)"),
        # Art.147A approach restrictions are a B3.1-only Feature (ref
        # rulebook approach_restrictions_b31_applicable; CRR pack omits it)
        "b31_approach_restrictions": RuleEntry(_D("1"), "PS1/26 Art.147A(1)"),
        # PS1/26 Art.124F/124H general (owner-occupied) RE loan-split: the
        # portion secured up to 55% of property value takes the
        # preferential weight, the remainder prices as an exposure to the
        # counterparty; Art.124G(2) junior income-RRE 1.25× above 50% LTV
        "b31_rre_split_secured_rw": RuleEntry(_D("0.20"), "PS1/26 Art.124F(1)"),
        "b31_cre_split_secured_rw": RuleEntry(_D("0.60"), "PS1/26 Art.124H(1)"),
        "b31_re_split_cap": RuleEntry(_D("0.55"), "PS1/26 Art.124F(1)/124H(2)"),
        "b31_re_income_junior_multiplier": RuleEntry(_D("1.25"), "PS1/26 Art.124G(2)"),
        "b31_re_income_junior_ltv_threshold": RuleEntry(_D("0.50"), "PS1/26 Art.124G(2)"),
        # Art.124K land acquisition/development/construction: 150% flat,
        # 100% only for qualifying residential pre-sold (no CRE concession)
        "b31_adc_rw": RuleEntry(_D("1.50"), "PS1/26 Art.124K(1)"),
        "b31_adc_presold_rw": RuleEntry(_D("1.00"), "PS1/26 Art.124K(2)"),
        # Art.124J non-qualifying ("other") RE — property failing the
        # Art.124A criteria (incomplete, no independent valuation, no
        # first charge): income-dependent 150% flat; non-dependent CRE
        # floors the counterparty weight at 60%
        "b31_other_re_income_rw": RuleEntry(_D("1.50"), "PS1/26 Art.124J(1)"),
        "b31_other_re_cre_floor_rw": RuleEntry(_D("0.60"), "PS1/26 Art.124J(3)(b)"),
        # Art.124I(3) junior-charge income-CRE ABSOLUTE risk weights — they
        # REPLACE the Art.124I(1)/(2) base bands, they are not multipliers
        # on them (a 1.375 multiplier on the 110% >80% band would be
        # 151.25%, a +13.75pp over-capital error; ref
        # b31_risk_weight_tables.py:178-197)
        "b31_cre_income_junior_rw_low": RuleEntry(_D("1.00"), "PS1/26 Art.124I(3)(a)"),
        "b31_cre_income_junior_rw_mid": RuleEntry(_D("1.25"), "PS1/26 Art.124I(3)(b)"),
        "b31_cre_income_junior_rw_high": RuleEntry(
            _D("1.375"), "PS1/26 Art.124I(3)(c)"
        ),
        # Art.124L counterparty-type table for the general-RE loan-split
        # RESIDUAL (and the Art.124J non-dependent other-RE weight): the
        # remainder of a split position prices as an exposure to the
        # counterparty — 75% for natural persons and retail-qualifying
        # SMEs (limb a), 85% for other SMEs (limb b), max(75%, unsecured
        # counterparty RW) for registered social housing (limb c), the
        # full unsecured counterparty RW otherwise (ref
        # b31_risk_weight_tables.py:144-156 + packs/b31.py:1198-1217)
        # PS1/26 Art.153(5A)/154(4A)/158(6A) post-model adjustments
        # (B3.1-only Feature; CRR applies none): the 10% residential
        # mortgage RW floor is REGULATORY pack data, the general-PMA /
        # unrecognised-exposure scalars are firm elections on the run
        # config (ref contracts/config.py pma_rwa_scalar — Decimal 0
        # defaults) and never live in the pack
        "post_model_adjustments": RuleEntry(_D("1"), "PS1/26 Art.154(4A)"),
        "mortgage_rw_floor": RuleEntry(_D("0.10"), "PS1/26 Art.154(4A)(b)"),
        "b31_rre_residual_rw_person": RuleEntry(_D("0.75"), "PS1/26 Art.124L(a)"),
        "b31_rre_residual_rw_other_sme": RuleEntry(_D("0.85"), "PS1/26 Art.124L(b)"),
        "b31_rre_residual_rw_social_floor": RuleEntry(
            _D("0.75"), "PS1/26 Art.124L(c)"
        ),
        # Art.124E(1)(b): owner-occupied preferential RRE restricted to
        # natural persons financing at most three residential properties;
        # strictly above, the exposure is materially dependent on property
        # cash flows (Art.124E(2)) and re-routes to the Art.124G
        # income-producing whole-loan track (ref packs/b31.py:1242-1248)
        "b31_rre_three_property_limit": RuleEntry(_D("3"), "PS1/26 Art.124E(1)(b)"),
        # PS1/26 Art.139(2B): for the Art.122B(1) SA specialised-lending
        # routing, inferred / issuer-level (non-issue-specific) ECAI
        # assessments are disapplied — such an SL exposure is treated as
        # UNRATED (ref engine/sa/risk_weights.py:973-991)
        "sa_sl_inferred_rating_disapplied": RuleEntry(_D("1"), "PS1/26 Art.139(2B)"),
        "large_corporate_revenue_threshold": RuleEntry(
            _D("440000000"), "PS1/26 Art.147(4C)(b)(ii) (GBP 440m native)"
        ),
        "sme_balance_sheet_threshold": RuleEntry(
            _D("43000000"), "Commission Rec 2003/361/EC Art.2 (SME assets cap)"
        ),

        "secsa_ksa": RuleEntry(_D("0.08"), "BCBS CRE41 (distilled K_SA)"),
        "secsa_p": RuleEntry(_D("1.0"), "BCBS CRE41.18 p-factor"),
        "secsa_p_sts": RuleEntry(_D("0.5"), "BCBS CRE41.19 STC p-factor"),
        "secsa_floor_rw": RuleEntry(_D("0.15"), "BCBS CRE41.43 15% floor"),
        # SEC-IRBA supervisory-p coefficients (CRE44.23, senior granular
        # wholesale row); p floors at 0.3
        "secirba_p_floor": RuleEntry(_D("0.3"), "BCBS CRE44.22"),
        "secirba_coef_a": RuleEntry(_D("0"), "BCBS CRE44.23"),
        "secirba_coef_b": RuleEntry(_D("3.56"), "BCBS CRE44.23"),
        "secirba_coef_c": RuleEntry(_D("-1.85"), "BCBS CRE44.23"),
        "secirba_coef_d": RuleEntry(_D("0.55"), "BCBS CRE44.23"),
        "secirba_coef_e": RuleEntry(_D("0.07"), "BCBS CRE44.23"),
        "sovereign_derived_institutions": RuleEntry(
            _D("0"), "PS1/26 Art.121A — SCRA replaces sovereign-derived"
        ),
        # B3.1 parameter substitution (CRE22.70-85): senior non-FSE guarantor
        # LGD drops to 0.40 (PS1/26 Art.161(1)(aa)); double default was Basel
        # II para 284 / CRR Art.153(3) and is NOT carried into PS1/26
        "qccp_trade_rw": RuleEntry(_D("0.02"), "BCBS CRE54.14 / PS1/26 Art.306"),
        "qccp_client_cleared_rw": RuleEntry(
            _D("0.04"), "BCBS CRE54.15 / PS1/26 Art.306"
        ),
        "firb_lgd_senior": RuleEntry(_D("0.40"), "PS1/26 Art.161(1)(aa)"),
        "firb_lgd_senior_fse": RuleEntry(_D("0.45"), "PS1/26 Art.161(1)(a)"),
        "firb_lgd_subordinated": RuleEntry(_D("0.75"), "PS1/26 Art.161(1)(b)"),
        # PS1/26 Art.161(1)(e)/(f)/(g) (CRE32.10-12): purchased-receivables
        # senior follows the 40% non-FSE senior rate; dilution rises to 100%
        "firb_lgd_pr_senior": RuleEntry(_D("0.40"), "PS1/26 Art.161(1)(e)"),
        "firb_lgd_pr_subordinated": RuleEntry(_D("1.00"), "PS1/26 Art.161(1)(f)"),
        "firb_lgd_dilution": RuleEntry(_D("1.00"), "PS1/26 Art.161(1)(g)"),
        "double_default_available": RuleEntry(_D("0"), "not onshored in PS1/26"),
        "dd_k_base": RuleEntry(_D("0.15"), "n/a in B3.1 (gated off)"),
        "dd_k_slope": RuleEntry(_D("160"), "n/a in B3.1 (gated off)"),
        # PS1/26 Art.123B: ×1.5 RW multiplier for retail / residential-RE
        # currency mismatch, capped at 150%, waived when hedged (flag or
        # ≥90% effective coverage); Art.110A: firm-assessed due-diligence
        # override, increase-only (ref engine/sa/rw_adjustments.py)
        "sa_currency_mismatch_multiplier": RuleEntry(_D("1"), "PS1/26 Art.123B"),
        "currency_mismatch_multiplier": RuleEntry(_D("1.5"), "PS1/26 Art.123B(1)"),
        "currency_mismatch_cap": RuleEntry(_D("1.5"), "PS1/26 Art.123B(1) (150% cap)"),
        "currency_mismatch_hedge_floor": RuleEntry(_D("0.9"), "PS1/26 Art.123B(2)"),
        "sa_due_diligence_override": RuleEntry(_D("1"), "PS1/26 Art.110A"),
        # PS1/26 Art.166C: F-IRB reads the SA Table A1 CCFs — no bespoke
        # Art.166(8) ladder; Annex I maturity split likewise retired.
        "firb_ccf_bespoke": RuleEntry(_D("0"), "PS1/26 Art.166C (SA CCFs)"),
        "firb_credit_line_ccf": RuleEntry(_D("0.75"), "n/a in B3.1 (gated off)"),
        "firb_trade_lc_ccf": RuleEntry(_D("0.2"), "n/a in B3.1 (gated off)"),
        "sa_oc_maturity_split": RuleEntry(_D("0"), "retired in PS1/26 Art.111"),
        "oc_short_maturity_ccf": RuleEntry(_D("0.2"), "n/a in B3.1 (gated off)"),
        # PS1/26 Art.111(1) Table A1 Row 4(b): UK residential-mortgage
        # commitments not already at the Row 7 UCC 10% or the Row 1/2 100%
        # take a fixed 50% CCF; Art.166C(1) reads the same factor into the
        # F-IRB / slotting exposure value (ref engine/ccf.py
        # _apply_uk_residential_mortgage_ccf). PRA construct — no CRR
        # equivalent, so the scalars exist only here.
        "uk_resi_mortgage_commitment_ccf": RuleEntry(
            _D("0.5"), "PS1/26 Art.111(1) Table A1 Row 4(b)"
        ),
        # PS1/26 Art.166E(5): the undrawn purchase commitment of a
        # REVOLVING purchased-receivables facility takes the Row 5 OC 40%,
        # dropping to the Row 7 UCC 10% where unconditionally cancellable
        # (ref engine/ccf.py _apply_purchased_receivable_ccf)
        "pr_revolving_commitment_ccf": RuleEntry(
            _D("0.4"), "PS1/26 Art.166E(5) / Table A1 Row 5"
        ),
        "pr_revolving_ucc_ccf": RuleEntry(
            _D("0.1"), "PS1/26 Art.166E(5) / Table A1 Row 7"
        ),
    },
    tables={
        "sa_rw": ("exposure_class string, cqs int, rw double", _SA_RW_ROWS_B31),
        # CRR Art.116/117/137 sovereign-family tables (regime-invariant;
        # ref rulebook/packs/crr.py:981-1052 + common.py eca_meip)
        "pse_sovereign_derived_rw": (_CQS_RW_SCHEMA, _PSE_SOV_DERIVED_ROWS),
        "pse_own_rating_rw": (_CQS_RW_SCHEMA, _PSE_OWN_RATING_ROWS),
        "mdb_rw_table2b": (_CQS_RW_SCHEMA, _MDB_TABLE_2B_ROWS),
        "eca_meip_rw": ("score int, rw double", _ECA_MEIP_ROWS),
        # CRR Art.115(1) Tables 1A/1B: RGLA sovereign-derived / own-rating
        # (values shared with the PSE Art.116 tables; separate names keep
        # the citations honest)
        "rgla_sovereign_derived_rw": (_CQS_RW_SCHEMA, _PSE_SOV_DERIVED_ROWS),
        "rgla_own_rating_rw": (_CQS_RW_SCHEMA, _PSE_OWN_RATING_ROWS),
        "ccf": ("risk_bucket string, ccf double", _CCF_ROWS_B31),
        "slotting_rw": (_SLOTTING_SCHEMA, _SLOTTING_ROWS),
        "saccr_sf": ("asset_class string, sf double", _SACCR_SF_ROWS),
        "collateral_haircuts": (_HAIRCUT_SCHEMA, _HAIRCUT_ROWS_B31),
        "haircut_bands": (_HAIRCUT_BANDS_SCHEMA, _HAIRCUT_BANDS_B31),
        "eu_domestic_ccy": (_EU_DOMESTIC_CCY_SCHEMA, _EU_DOMESTIC_CCY_ROWS),
        "life_ins_rw_map": (_LIFE_INS_RW_SCHEMA, _LIFE_INS_RW_ROWS),
        "covered_bond_rw": (_COVERED_BOND_RW_SCHEMA, _COVERED_BOND_RW_ROWS),
        "covered_bond_unrated_derivation": (_CB_DERIVATION_SCHEMA, _CB_DERIVATION_B31),
        "institution_scra_rw": (_SCRA_INST_SCHEMA, _SCRA_INST_ROWS),
        # PS1/26 short-term institution / corporate RW tables (4 / 4A /
        # SCRA-ST / 6A; ref engine/sa/risk_weights.py
        # _b31_append_institution_maturity_branches,
        # _b31_append_corporate_maturity_branches)
        "scra_short_term_rw": (_SCRA_INST_SCHEMA, _SCRA_INST_ST_ROWS),
        "ecra_short_term_rw": (_CQS_RW_SCHEMA, _ECRA_ST_ROWS),
        "ecra_short_term_ecai_rw": (_CQS_RW_SCHEMA, _ECRA_ST_ECAI_ROWS),
        "corporate_st_ecai_rw": (_CQS_RW_SCHEMA, _CORP_ST_ECAI_ROWS),
        # PRA Rules 4.2/4.3 equity transitional RW phase-in (ref
        # rulebook/packs/b31.py:740-761): standard and higher-risk steps,
        # date-resolved driver-side (a Schedule, not a join dimension)
        "equity_transitional_rw": (
            "date_from string, std_rw double, hr_rw double",
            (
                ("2027-01-01", _D("1.60"), _D("2.20")),
                ("2028-01-01", _D("1.90"), _D("2.80")),
                ("2029-01-01", _D("2.20"), _D("3.40")),
                ("2030-01-01", _D("2.50"), _D("4.00")),
            ),
        ),
        # PS1/26 Art.124G Table 6B / Art.124I(1)-(2): income-producing RE
        # whole-loan LTV bands (999.0 = the open catch-all band, ref
        # b31_risk_weight_tables.py:93 sentinel). B3.1-only — CRR keeps
        # the flat Art.125/126 weights, so the table's PRESENCE is the gate.
        "re_ltv_rw": (
            "track string, ltv_upper double, rw double",
            (
                ("rre_income", _D("0.50"), _D("0.30")),
                ("rre_income", _D("0.60"), _D("0.35")),
                ("rre_income", _D("0.70"), _D("0.40")),
                ("rre_income", _D("0.80"), _D("0.50")),
                ("rre_income", _D("0.90"), _D("0.60")),
                ("rre_income", _D("1.00"), _D("0.75")),
                ("rre_income", _D("999.0"), _D("1.05")),
                ("cre_income", _D("0.80"), _D("1.00")),
                ("cre_income", _D("999.0"), _D("1.10")),
            ),
        ),
        # PS1/26 Art.122A-122B: UNRATED SA specialised-lending type-specific
        # risk weights (rated SL keeps the Art.122A(3) corporate CQS table;
        # ref rulebook/packs/b31.py:1307-1318). B3.1-only — under CRR,
        # unrated SL falls through to the unrated-corporate 100%.
        "b31_sa_sl_rw": (
            "sl_key string, rw double",
            (
                ("object_finance", _D("1.00")),
                ("commodities_finance", _D("1.00")),
                ("project_finance_pre_operational", _D("1.30")),
                ("project_finance_operational", _D("1.00")),
                ("project_finance_high_quality", _D("0.80")),
            ),
        ),
        "pd_floor_by_class": (_PD_FLOOR_SCHEMA, _PD_FLOOR_ROWS_B31),
        "lgd_floors": (_LGD_FLOOR_SCHEMA, _LGD_FLOOR_ROWS_B31),
    },
    table_citations={
        "sa_rw": "BCBS CRE20 / PS1/26 Art.114-122",
        "pd_floor_by_class": "PS1/26 Art.160(1)/163(1) / BCBS CRE30.55",
        "lgd_floors": "PS1/26 Art.161(5)/164(4) (BCBS CRE30.56)",
        "covered_bond_rw": "PS1/26 Art.129(4) Table 7",
        "covered_bond_unrated_derivation": "PS1/26 Art.129(5) (7-input chain)",
        "institution_scra_rw": "PS1/26 Art.121A / BCBS CRE20.21",
        "pse_sovereign_derived_rw": "CRR Art.116(1) Table 2",
        "pse_own_rating_rw": "CRR Art.116(2) Table 2A",
        "mdb_rw_table2b": "CRR Art.117(1) Table 2B",
        "eca_meip_rw": "CRR Art.137(1)-(2) Table 9",
        "rgla_sovereign_derived_rw": "CRR Art.115(1)(a) Table 1A",
        "rgla_own_rating_rw": "CRR Art.115(1)(b) Table 1B",
        "scra_short_term_rw": "PS1/26 Art.120A (SCRA short-term)",
        "ecra_short_term_rw": "PS1/26 Art.120(2) Table 4",
        "ecra_short_term_ecai_rw": "PS1/26 Art.120(2B) Table 4A",
        "corporate_st_ecai_rw": "PS1/26 Art.122(3) Table 6A",
        "re_ltv_rw": "PS1/26 Art.124G Table 6B / Art.124I (BCBS CRE20.83/20.86)",
        "b31_sa_sl_rw": "PS1/26 Art.122A-122B (BCBS CRE20.48-52)",
        "ccf": "BCBS CRE20.94-101 / PS1/26 Art.111",
        "slotting_rw": "PS1/26 Art.153(5) / BCBS CRE33.13",
        "saccr_sf": "BCBS CRE52.72 Table 2",
        "collateral_haircuts": "PS1/26 Art.224 Table 1 / BCBS CRE22.52",
        "haircut_bands": "PS1/26 Art.224 (5 maturity bands)",
        "eu_domestic_ccy": "BCBS CRE20.9 (domestic-currency treatment)",
        "life_ins_rw_map": "PS1/26 Art.232(3)",
        "equity_transitional_rw": "PRA PS1/26 Rules 4.2-4.3 (equity transitional)",
    },
)


# ---------------------------------------------------------------------------
# Pack resolution / completeness (ref rulebook/resolve.py: the compile-time
# guarantee that a regime layer supplies every entry the engine reads, with
# a citation — a missing rule is a configuration error at startup, never a
# silent KeyError mid-pipeline)
# ---------------------------------------------------------------------------

#: Every scalar the engine stages read unconditionally (presence-gated
#: features like b31_approach_restrictions are deliberately absent here).
REQUIRED_SCALARS = (
    "retail_rw", "retail_threshold", "re_secured_rw", "defaulted_rw",
    "defaulted_rw_secured", "unrated_corp_rw", "sme_supporting_factor",
    "sme_factor_above_threshold", "sme_exposure_threshold",
    "infra_supporting_factor", "pd_floor", "lgd_floor_unsecured",
    "airb_lgd_floor", "one_day_maturity_floor",
    "revolving_uses_termination_maturity", "firb_fixed_supervisory_maturity",
    "firb_fixed_supervisory_maturity_years", "ucp_unilateral_change_ineligible",
    "crr_retail_re_portfolio_lgd_floor",
    "retail_residential_re_portfolio_lgd_floor",
    "retail_commercial_re_portfolio_lgd_floor",
    "central_bank_uses_sovereign_cqs",
    "irb_scaling_factor", "output_floor_alpha", "fx_haircut",
    "fcsm_rw_floor", "saccr_alpha", "pfe_multiplier_floor",
    "secsa_ksa", "secsa_p", "secsa_p_sts", "secsa_floor_rw",
    "firb_lgd_senior", "firb_lgd_senior_fse", "firb_lgd_subordinated",
    "firb_lgd_pr_senior", "firb_lgd_pr_subordinated", "firb_lgd_dilution",
    "double_default_available", "dd_k_base", "dd_k_slope",
)

#: Table name -> exact schema DDL the stage joins expect.
REQUIRED_TABLES = {
    "sa_rw": "exposure_class string, cqs int, rw double",
    "ccf": "risk_bucket string, ccf double",
    "slotting_rw": _SLOTTING_SCHEMA,
    "saccr_sf": "asset_class string, sf double",
    "collateral_haircuts": _HAIRCUT_SCHEMA,
    "haircut_bands": _HAIRCUT_BANDS_SCHEMA,
    "covered_bond_rw": _COVERED_BOND_RW_SCHEMA,
    "covered_bond_unrated_derivation": _CB_DERIVATION_SCHEMA,
    "pd_floor_by_class": _PD_FLOOR_SCHEMA,
    "lgd_floors": _LGD_FLOOR_SCHEMA,
}


def resolve_pack(pack: RulePack) -> RulePack:
    """Validate a pack against the engine's required-entry registry and
    return it (ref rulebook/resolve.py ResolvedRulepack). Raises ValueError
    listing EVERY problem at once — missing scalars, missing/mis-schema'd
    tables, entries without citations — so a pack author fixes one report,
    not a whack-a-mole of KeyErrors."""
    problems: list[str] = []
    for name in REQUIRED_SCALARS:
        if name not in pack.scalars:
            problems.append(f"missing scalar {name!r}")
    for k, e in pack.scalars.items():
        if not e.citation:
            problems.append(f"scalar {k!r} has no citation")
    for name, ddl in REQUIRED_TABLES.items():
        if name not in pack.tables:
            problems.append(f"missing table {name!r}")
        elif pack.tables[name][0] != ddl:
            problems.append(
                f"table {name!r} schema {pack.tables[name][0]!r} != required {ddl!r}"
            )
    for name in pack.tables:
        if name not in pack.table_citations or not pack.table_citations[name]:
            problems.append(f"table {name!r} has no citation")
    if problems:
        raise ValueError(
            f"rulepack {pack.regime}/{pack.version} failed to resolve: "
            + "; ".join(sorted(problems))
        )
    return pack


# Both shipped packs must resolve at import — a broken pack is unusable
# everywhere, so fail here, not mid-pipeline.
resolve_pack(CRR_PACK)
resolve_pack(B31_PACK)
