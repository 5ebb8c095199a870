"""EDW data contracts for the pipeline operators: typed cast maps, primary
keys, topic ranges, and validation rules — at FULL reference width.

Derived from the reference's runtime contracts and re-declared here as
*our* contract in a different structure (type-grouped column lists and
compact rule builders instead of 127 repeated dict literals):

- silver cast maps: /root/reference/src/les_etl_pipeline/utils/
  silver_funcs.py:81-248 (127 asset + 36 bond columns) and
  generate_deal_details_silver.py:31-70 (38 deal columns)
- topic ranges: generate_asset_silver.py:22-45 /
  generate_bond_info_silver.py:22-36
- primary keys: utils/bronze_funcs.py:10-14
- validation rules: utils/validation_rules.py:26-46 (common lineage),
  :49-873 (assets), :876-1123 (bond_info) — every column's type /
  nullability / enum domain / date bound carried over; Cerberus ``meta``
  labels are documentation-only and dropped.

The cast engine and rule compiler accept arbitrary entries, so these maps
are pure data. Unlisted columns pass through as strings and
``cast_to_datatype`` skips columns absent from a file (files may carry
column subsets, generate_asset_silver.py:31-44).
"""

from __future__ import annotations

from pyspark.sql import types as T

# primary key columns per dataset (bronze_funcs.py:10-14)
PRIMARY_COLS = {
    "assets": ["AL1", "AL2"],
    "bond_info": ["BL1", "BL2"],
    "deal_details": ["ed_code", "PoolCutOffDate"],
}

# SCD2 merge keys: a ROW identity, which the reference never defined (its
# PRIMARY_COLS identify a deal+date, not a row — every asset row of a deal
# shares AL1/AL2, so a merge keyed on them would fan out; the dead
# perform_scd2 hid this). AL5 = lease id; BL1/BL2 = report date + issuer
# name a deal's bond report, whose rows are its tranches; BL25, the first
# tranche_info column, names the tranche.
MERGE_KEYS = {
    "assets": ["AL1", "AL2", "AL5"],
    "bond_info": ["BL1", "BL2", "BL25"],
    "deal_details": ["PoolCutOffDate"],
}

#: first header cell per dataset is force-renamed (bronze_funcs.py:16-19)
INITIAL_COL = {"assets": "AL1", "bond_info": "BL1"}


def _typed(*groups: tuple[T.DataType, str]) -> dict[str, T.DataType]:
    """Expand (DataType, 'COL COL ...') groups into a flat cast map."""
    out: dict[str, T.DataType] = {}
    for dtype, cols in groups:
        for c in cols.split():
            out[c] = dtype
    return out


# silver cast map — all 127 typed asset columns (silver_funcs.py:81-209)
ASSET_COLUMNS: dict[str, T.DataType] = _typed(
    (
        T.DateType(),
        "AL1 AL19 AL20 AL31 AL48 AL50 AL51 AL52 AL69 AL95 AL100 AL101 "
        "AL107 AL110 AL113 AL116 AL117 AL120 AL136 AL145 AL148",
    ),
    (
        T.BooleanType(),
        "AL7 AL23 AL29 AL47 AL104 AL105 AL114 AL123 AL126 AL140",
    ),
    (
        T.DoubleType(),
        "AL30 AL37 AL38 AL39 AL40 AL41 AL44 AL53 AL54 AL55 AL56 AL57 "
        "AL61 AL62 AL63 AL68 AL74 AL75 AL77 AL78 AL79 AL80 AL83 AL84 "
        "AL85 AL86 AL87 AL88 AL89 AL90 AL91 AL92 AL93 AL98 AL99 AL102 "
        "AL103 AL108 AL109 AL111 AL115 AL118 AL119 AL121 AL124 AL125 "
        "AL127 AL128 AL129 AL138 AL142 AL143 AL146",
    ),
    (
        T.StringType(),
        "AL2 AL3 AL4 AL5 AL6 AL8 AL9 AL10 AL15 AL16 AL17 AL18 AL21 AL22 "
        "AL32 AL33 AL34 AL35 AL36 AL42 AL43 AL45 AL46 AL58 AL59 AL60 "
        "AL64 AL66 AL67 AL70 AL76 AL94 AL106 AL112 AL122 AL133 AL134 "
        "AL135 AL137 AL139 AL141 AL144 AL147",
    ),
)

# silver cast map — all 36 typed bond columns (silver_funcs.py:211-248)
BOND_COLUMNS: dict[str, T.DataType] = _typed(
    (T.DateType(), "BL1 BL18 BL27 BL28 BL38 BL39 BL40 BL42"),
    (T.BooleanType(), "BL4 BL5 BL12"),
    (
        T.DoubleType(),
        "BL11 BL13 BL14 BL15 BL16 BL17 BL30 BL31 BL33 BL34 BL35 BL36 "
        "BL37 BL43 BL44 BL45 BL46",
    ),
    (T.StringType(), "BL2 BL19 BL20 BL25 BL26 BL29 BL32 BL41"),
)

# silver cast map — all 38 deal-details columns
# (generate_deal_details_silver.py:31-70)
DEAL_DETAILS_COLUMNS: dict[str, T.DataType] = _typed(
    (
        T.StringType(),
        "AssetClassCode AssetClassName CountryCodeOfPrimaryExchange "
        "CountryCodeOfSecuritisedAsset CountryCodeOfSpvIncorporation "
        "CountryOfPrimaryExchange CountryOfSecuritisedAsset "
        "CountryOfSpvIncorporation DataOwner DataProvider ed_code part "
        "ISIN SpvName ContactInformation CurrentLLPDUploadStatus "
        "ECBDataQualityScore RequestId",
    ),
    (
        T.BooleanType(),
        "IsActiveDeal IsECBEligible IsMasterTrust IsProvisional "
        "IsRestructured HasSuccessfulSubmission",
    ),
    (
        T.DateType(),
        "PoolCreationDate RestructureDates InterestPaymentDate "
        "PoolCutOffDate SubmissionTimestamp",
    ),
    (T.DoubleType(), "DealSize CurrentPoolBalance OriginalPoolBalance TotalNotionalValue"),
    (
        T.IntegerType(),
        "DealVersion NumberOfActiveAssets TotalNumberOfAssets "
        "TotalResubmissionCount Vintage",
    ),
)

# topic ranges (generate_asset_silver.py:22-45)
ASSET_TOPIC_RANGES = {
    "lease_info": ("AL", 6, 49),
    "lease_features": ("AL", 50, 73),
    "interest_rate": ("AL", 74, 82),
    "financial_info": ("AL", 83, 97),
    "performance_info": ("AL", 98, 132),
    "collateral_info": ("AL", 133, 153),
}

# topic ranges (generate_bond_info_silver.py:22-36)
BOND_TOPIC_RANGES = {
    "bond_info": ("BL", 3, 18),
    "transaction_info": ("BL", 19, 24),
    "tranche_info": ("BL", 25, 50),
}

#: silver primary projections: primary = ed_code, part + key range
ASSET_PRIMARY = ["ed_code", "part", "AL1", "AL2", "AL3", "AL4", "AL5"]
BOND_PRIMARY = ["ed_code", "part", "BL1", "BL2"]

# --------------------------------------------------------------------------
# Validation rules — full reference width (validation_rules.py:49-1123).
# Rule language: operators/validation.py (Cerberus-compatible subset).
# Builders keep the 163 per-column dicts readable; reference datetime
# bounds: MIN 2012-01-01, MAX 2100-12-31 (validation_rules.py:6-7).
# --------------------------------------------------------------------------
_REF_MIN_DT = "2012-01-01"
_REF_MAX_DT = "2100-12-31"


def _rules(*groups: "tuple[dict, str]") -> dict[str, dict]:
    """Expand (rule_dict, 'COL COL ...') groups into per-column rules."""
    out: dict[str, dict] = {}
    for rule, cols in groups:
        for c in cols.split():
            out[c] = dict(rule)
    return out


def _enum(n: int) -> dict:
    """Nullable numeric-code enum '0'..'{n}' (the EDW code-list shape)."""
    return {"allowed": [str(i) for i in range(n + 1)]}


_YN = {"allowed": ["y", "n"]}
_NUM = {"type": "number"}
_DT_MAX = {"type": "datetime", "max": _REF_MAX_DT}

#: lineage/common rules shared by assets and bond_info
#: (validation_rules.py:26-46) — pcd is a bounded datetime, the id
#: columns non-null strings
COMMON_RULES: dict[str, dict] = {
    "ed_code": {"nullable": False},
    "part": {"nullable": False},
    "filename": {"nullable": False},
    "pcd": {"type": "datetime", "nullable": False, "min": _REF_MIN_DT, "max": _REF_MAX_DT},
}

# assets: 127 AL rules (validation_rules.py:49-873)
ASSET_RULES: dict[str, dict] = _rules(
    # non-nullable identity strings
    ({"nullable": False}, "AL2 AL3 AL5 AL8 AL10"),
    # nullable free strings (AL31/AL136 are validated as strings but CAST
    # to date by the silver map — reference divergence preserved on both
    # sides)
    (
        {},
        "AL4 AL6 AL9 AL15 AL16 AL17 AL31 AL32 AL33 AL34 AL35 AL36 AL42 "
        "AL43 AL45 AL46 AL94 AL133 AL134 AL135 AL136 AL141",
    ),
    # y/n flags
    (_YN, "AL7 AL23 AL29 AL47 AL104 AL105 AL114 AL123 AL126 AL140"),
    # numbers (all nullable except AL56, below)
    (
        _NUM,
        "AL30 AL37 AL38 AL39 AL40 AL41 AL44 AL53 AL54 AL55 AL57 AL61 "
        "AL62 AL63 AL68 AL74 AL75 AL77 AL78 AL79 AL80 AL83 AL84 AL85 "
        "AL86 AL87 AL88 AL89 AL90 AL91 AL92 AL93 AL98 AL99 AL102 AL103 "
        "AL108 AL109 AL111 AL115 AL118 AL119 AL121 AL124 AL125 AL127 "
        "AL128 AL129 AL138 AL142 AL143 AL146",
    ),
    ({"type": "number", "nullable": False}, "AL56"),
    # datetimes bounded above by the century cap
    (
        _DT_MAX,
        "AL19 AL20 AL48 AL50 AL52 AL69 AL95 AL100 AL101 AL107 AL110 "
        "AL113 AL116 AL117 AL120 AL145 AL148",
    ),
)
ASSET_RULES.update(
    {
        # pool cut-off date: hard reporting window (validation_rules.py:54-60)
        "AL1": {
            "type": "datetime",
            "nullable": False,
            "min": _REF_MIN_DT,
            "max": "2030-12-31",
        },
        # lease maturity: bounded below only (validation_rules.py:263-269)
        "AL51": {"type": "datetime", "min": _REF_MIN_DT},
        # numeric-code enum domains (validation_rules.py, per column)
        "AL18": _enum(6),
        "AL21": _enum(5),
        "AL22": _enum(4),
        "AL58": _enum(4),
        "AL59": _enum(8),
        "AL60": _enum(8),
        "AL64": _enum(6),
        "AL66": _enum(6),
        "AL67": _enum(7),
        "AL70": _enum(4),
        "AL76": _enum(13),
        "AL106": _enum(4),
        "AL112": _enum(6),
        "AL122": _enum(10),
        "AL137": _enum(4),
        "AL139": _enum(21),
        "AL144": _enum(9),
        "AL147": _enum(9),
    }
)

# bond_info: 36 BL rules (validation_rules.py:876-1123)
BOND_RULES: dict[str, dict] = _rules(
    ({"nullable": False}, "BL2 BL19 BL20 BL29"),
    ({}, "BL25 BL26"),
    (_YN, "BL4 BL5 BL12"),
    (
        _NUM,
        "BL11 BL13 BL14 BL15 BL16 BL17 BL30 BL31 BL33 BL34 BL35 BL36 "
        "BL37 BL43 BL44 BL45 BL46",
    ),
    (_DT_MAX, "BL18 BL27 BL28 BL40 BL42"),
)
BOND_RULES.update(
    {
        "BL1": {"type": "datetime", "nullable": False, "max": _REF_MAX_DT},
        "BL38": {"type": "datetime", "nullable": False, "min": _REF_MIN_DT},
        "BL39": {"type": "datetime", "nullable": False, "max": _REF_MAX_DT},
        "BL32": _enum(18),
        "BL41": _enum(5),
    }
)

#: lineage columns carried by every bronze row (validation_rules.py:26-46)
LINEAGE_COLS = ("filename", "pcd", "ed_code")
