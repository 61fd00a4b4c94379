"""Output checks: DuckDB twins of the pipeline and order-independent hashes.

The state workloads are checked against the repository's SQL twins of the
product chain, run by DuckDB on the same generated CSVs: the ``fia_tidy``
CTEs of :mod:`foresttime_builder_spark.plans.state_on_fixture`, then
:func:`~foresttime_builder_spark.plans.fia_on_synthetic.annualize_cte`
(annualize only) or
:func:`~foresttime_builder_spark.plans.carbon_on_synthetic.carbon_cte`
(annualize + NSVB carbon), once per mortality variant.  The population
queries are checked against DuckDB twins of the three population functions
(adapted from the population oracles in ``carbon_on_synthetic``, with the
query's domains and filters and the generated POP tables) over the DuckDB
chain's own output.

Both sides are reduced to the same canonical frame: keys and codes as
integers or strings, measurements in fixed point (1e-4 units as int64, NaN
as null; population totals in 1e-2 and ratios in 1e-6, as the repository's
population oracles emit them).  A frame's digest is the row count plus the
wrapping sum of per-row hashes, so it does not depend on row order.

Float sums and power laws may differ in the last bit between engines (and
between two Spark runs that sum in another order), which can move a value
across a rounding boundary by one fixed-point unit.  When two digests
differ, :func:`diff_frames` joins the frames on their keys and separates
such one-unit flips from real mismatches; only real mismatches fail.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from foresttime_builder_spark.plans.carbon_on_synthetic import carbon_cte
from foresttime_builder_spark.plans.fia_on_synthetic import annualize_cte
from foresttime_builder_spark.plans.state_on_fixture import _TIDY_CTES

#: DuckDB column types of the raw tables the tidy twin reads (the Spark side
#: infers them from the same files; CN columns are strings on both sides)
_RAW_TYPES = {
    "PLOT": {
        "CN": "VARCHAR", "INVYR": "INTEGER", "STATECD": "INTEGER",
        "UNITCD": "INTEGER", "COUNTYCD": "INTEGER", "PLOT": "INTEGER",
        "DESIGNCD": "INTEGER", "INTENSITY": "INTEGER",
    },
    "COND": {
        "PLT_CN": "VARCHAR", "INVYR": "INTEGER", "STATECD": "INTEGER",
        "UNITCD": "INTEGER", "COUNTYCD": "INTEGER", "PLOT": "INTEGER",
        "CONDID": "INTEGER", "CONDPROP_UNADJ": "DOUBLE",
        "PROP_BASIS": "VARCHAR", "COND_STATUS_CD": "INTEGER",
        "STDORGCD": "INTEGER",
    },
    "TREE": {
        "PLT_CN": "VARCHAR", "INVYR": "INTEGER", "STATECD": "INTEGER",
        "UNITCD": "INTEGER", "COUNTYCD": "INTEGER", "PLOT": "INTEGER",
        "SUBP": "INTEGER", "TREE": "INTEGER", "CONDID": "INTEGER",
        "MORTYR": "INTEGER", "STATUSCD": "INTEGER", "RECONCILECD": "INTEGER",
        "DECAYCD": "INTEGER", "STANDING_DEAD_CD": "INTEGER", "DIA": "DOUBLE",
        "CR": "DOUBLE", "HT": "DOUBLE", "ACTUALHT": "DOUBLE", "CULL": "DOUBLE",
        "SPCD": "INTEGER",
    },
    "PLOTGEOM": {"CN": "VARCHAR", "INVYR": "INTEGER", "ECOSUBCD": "VARCHAR"},
    "POP_STRATUM": {
        "CN": "VARCHAR", "STATECD": "INTEGER", "EXPNS": "DOUBLE",
        "ADJ_FACTOR_SUBP": "DOUBLE",
    },
    "POP_PLOT_STRATUM_ASSGN": {
        "CN": "VARCHAR", "STRATUM_CN": "VARCHAR", "PLT_CN": "VARCHAR",
        "STATECD": "INTEGER",
    },
}

#: canonical output columns of the state workloads (name -> kind)
KEYS = ("variant", "plot_ID", "tree_ID", "YEAR")
ANNUALIZE_COLS = {
    "interpolated": "bool", "PLT_CN": "str", "ECOSUBCD": "str",
    "DIA": "e4", "HT": "e4", "ACTUALHT": "e4", "CULL": "e4", "CR": "e4",
    "CONDPROP_UNADJ": "e4", "TPA_UNADJ": "e4",
    "STATUSCD": "int", "STANDING_DEAD_CD": "int", "DECAYCD": "int",
    "RECONCILECD": "int", "COND_STATUS_CD": "int", "CONDID": "int",
    "STDORGCD": "int", "SPCD": "int", "MORTYR": "int", "INTENSITY": "int",
}
JOB_COLS = {
    "interpolated": "bool", "PLT_CN": "str",
    "DIA": "e4", "HT": "e4", "ACTUALHT": "e4", "CULL": "e4", "CR": "e4",
    "TPA_UNADJ": "e4", "DRYBIO_AG": "e4", "CARBON_AG": "e4",
    "CONDPROP_UNADJ": "e4",
    "STATUSCD": "int", "STANDING_DEAD_CD": "int", "DECAYCD": "int",
    "COND_STATUS_CD": "int", "CONDID": "int", "SPCD": "int", "INTENSITY": "int",
}
VARIANTS = (("annualized_midpt", False), ("annualized_mortyr", True))

_NULL_INT = np.iinfo(np.int64).min


def read_csv_sql(csv_dir: str, states, table: str) -> str:
    paths = ", ".join(
        "'" + os.path.join(csv_dir, f"{s}_{table}.csv").replace("'", "''") + "'"
        for s in states
    )
    types = ", ".join(f"'{c}': '{t}'" for c, t in _RAW_TYPES[table].items())
    return (
        f"read_csv([{paths}], header=true, nullstr=['NA'], "
        f"types={{{types}}}, union_by_name=true)"
    )


def panel_sql(csv_dir: str, states) -> str:
    """The tidy twin over the generated CSVs, as one ``SELECT``."""
    raw = ",\n".join(
        f"f{t.lower()} AS (SELECT * FROM {read_csv_sql(csv_dir, states, t)})"
        for t in ("PLOT", "COND", "TREE", "PLOTGEOM")
    )
    return f"WITH {raw},{_TIDY_CTES} SELECT * FROM tidy"


def state_oracle_sql(csv_dir: str, states, jcase: str, estimate: bool) -> str:
    """Both mortality variants of the state job as DuckDB computes them,
    raw (before canonicalization), keyed by :data:`KEYS`.  With
    ``estimate`` the columns come from the chain's ``prep`` stage plus the
    carbon estimates (the sink writes prep_carbon's view of the panel);
    without, from the annualize chain's ``final`` stage."""
    panel = panel_sql(csv_dir, states)
    parts = []
    for variant, use_mortyr in VARIANTS:
        if estimate:
            chain = carbon_cte(panel_sql=panel, jcase=jcase, use_mortyr=use_mortyr)
            cols = ", ".join(f"f.{c}" for c in JOB_COLS if c not in ("DRYBIO_AG", "CARBON_AG"))
            body = (
                f"WITH {chain}\nSELECT f.plot_ID, f.tree_ID, f.YEAR, {cols},"
                " c.BIOMASS AS DRYBIO_AG, c.CARBON AS CARBON_AG FROM prep f"
                " LEFT JOIN carbonout c ON f.plot_ID = c.plot_ID"
                " AND f.tree_ID = c.tree_ID AND f.YEAR = c.YEAR"
            )
        else:
            chain = annualize_cte(panel, jcase, use_mortyr=use_mortyr)
            cols = ", ".join(ANNUALIZE_COLS)
            body = f"WITH {chain}\nSELECT plot_ID, tree_ID, YEAR, {cols} FROM final"
        parts.append(f"SELECT '{variant}' AS variant, sub.* FROM ({body}) sub")
    return "\nUNION ALL\n".join(parts)


def duckdb_connect(threads: int, work_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    tmp = os.path.join(work_dir, "duckdb_tmp").replace("'", "''")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


# ---------------------------------------------------------------------------
# canonical frames and digests
# ---------------------------------------------------------------------------


def fixed_point(x, scale: int) -> pd.Series:
    """``floor(x * scale + 0.5)`` as nullable int64; NaN and null -> null."""
    v = pd.to_numeric(pd.Series(x), errors="coerce").astype("float64").to_numpy()
    out = np.floor(v * scale + 0.5)
    mask = ~np.isfinite(out)
    ints = np.where(mask, 0, out).astype(np.int64)
    return pd.Series(pd.arrays.IntegerArray(ints, mask))


def canonical(df: pd.DataFrame, kinds: dict[str, str]) -> pd.DataFrame:
    """Reduce ``df`` to the canonical columns: ``str`` keeps text, ``bool``
    and ``int`` become nullable int64, ``eN`` is fixed point at 10^-N."""
    out = {}
    for col, kind in kinds.items():
        s = df[col].reset_index(drop=True)
        if kind == "str":
            out[col] = s.astype("object").where(s.notna(), None)
        elif kind in ("int", "bool"):
            if s.dtype == object:
                s = pd.to_numeric(s, errors="coerce")
            out[col] = s.astype("Int64")
        elif kind.startswith("e"):
            out[col] = fixed_point(s, 10 ** int(kind[1:]))
        else:
            raise ValueError(f"unknown column kind {kind}")
    return pd.DataFrame(out)


@dataclass(frozen=True)
class Digest:
    rows: int
    value: str


def digest(frame: pd.DataFrame) -> Digest:
    """Row count + wrapping sum of per-row hashes over sorted columns."""
    cols = sorted(frame.columns)
    hashed = {}
    for c in cols:
        s = frame[c]
        if isinstance(s.dtype, pd.Int64Dtype):
            hashed[c] = s.fillna(_NULL_INT).astype(np.int64)
        else:
            hashed[c] = s.fillna("\x00null").astype(str)
    h = pd.util.hash_pandas_object(pd.DataFrame(hashed), index=False).to_numpy()
    total = int(h.sum(dtype=np.uint64)) if len(h) else 0
    name_salt = int(
        pd.util.hash_pandas_object(pd.Series(cols), index=False)
        .to_numpy()
        .sum(dtype=np.uint64)
    )
    return Digest(len(frame), f"{(total ^ name_salt) & (2**64 - 1):016x}")


def diff_frames(a: pd.DataFrame, b: pd.DataFrame, keys, kinds) -> dict:
    """Join two canonical frames on ``keys``; count rows present on one side
    only, rows whose values differ by at most one fixed-point unit in
    fixed-point columns (rounding-boundary flips) and real mismatches."""
    fixed = [c for c, k in kinds.items() if k.startswith("e") and c not in keys]
    exact = [c for c in a.columns if c not in keys and c not in fixed]
    if a.duplicated(list(keys)).any() or b.duplicated(list(keys)).any():
        # not keyed uniquely: only an exact multiset comparison is possible
        return {"missing": 0, "extra": 0, "flips": 0,
                "mismatches": int(digest(a) != digest(b))}
    m = a.merge(b, on=list(keys), how="outer", suffixes=("_a", "_b"), indicator=True)
    both = m[m["_merge"] == "both"]
    bad = np.zeros(len(both), dtype=bool)
    flip = np.zeros(len(both), dtype=bool)
    for c in exact:
        x, y = both[c + "_a"], both[c + "_b"]
        bad |= ~((x.isna() & y.isna()) | (x == y).fillna(False)).to_numpy()
    for c in fixed:
        x, y = both[c + "_a"].astype("Float64"), both[c + "_b"].astype("Float64")
        same = ((x.isna() & y.isna()) | (x == y).fillna(False)).to_numpy()
        near = ((x - y).abs() <= 1).fillna(False).to_numpy()
        bad |= ~(same | near)
        flip |= ~same & near
    return {
        "missing": int((m["_merge"] == "right_only").sum()),
        "extra": int((m["_merge"] == "left_only").sum()),
        "flips": int((flip & ~bad).sum()),
        "mismatches": int(bad.sum()),
    }


def equivalent(diff: dict) -> bool:
    return diff["missing"] == 0 and diff["extra"] == 0 and diff["mismatches"] == 0


def read_sink(root: str, kinds: dict[str, str]) -> pd.DataFrame:
    """The state job's partitioned parquet, read with pyarrow (not Spark),
    as a canonical frame."""
    import pyarrow.dataset as ds

    cols = list(KEYS) + [c for c in kinds if c not in KEYS]
    table = ds.dataset(root, format="parquet", partitioning="hive").to_table(
        columns=cols
    )
    return canonical(table.to_pandas(), key_kinds() | kinds)


def key_kinds() -> dict[str, str]:
    return {k: ("int" if k == "YEAR" else "str") for k in KEYS}
