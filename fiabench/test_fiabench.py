"""Self-tests of the benchmark (no Spark session needed).

Run from the root of a checkout::

    python3 -m pytest fiabench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Counters  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    base = tmp_path_factory.mktemp("gen")
    out = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = str(base / name)
        out[name] = (d, gen.generate(seed, 120, d))
    return out


def _files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".csv"))


def test_same_seed_gives_byte_identical_csvs(generated):
    (a, ma), (b, mb) = generated["a"], generated["b"]
    assert _files(a) == _files(b)
    assert len(_files(a)) == 9 * len(ma["states"])
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []
    assert ma == mb


def test_different_seed_gives_different_csvs(generated):
    (a, _), (c, _) = generated["a"], generated["c"]
    common = sorted(set(_files(a)) & set(_files(c)))
    same = [f for f in common if filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)]
    assert len(same) < len(common)
    tree_a = pd.concat(pd.read_csv(os.path.join(a, f), na_values="NA") for f in _files(a) if f.endswith("_TREE.csv"))
    tree_c = pd.concat(pd.read_csv(os.path.join(c, f), na_values="NA") for f in _files(c) if f.endswith("_TREE.csv"))
    assert not tree_a["DIA"].reset_index(drop=True).equals(tree_c["DIA"].reset_index(drop=True))


def _table(d, table):
    return pd.concat(
        pd.read_csv(os.path.join(d, f), na_values="NA", keep_default_na=False, dtype={"CN": str, "PLT_CN": str})
        for f in _files(d) if f.endswith(f"_{table}.csv") and f.split("_", 1)[1] == f"{table}.csv"
    )


def test_generated_input_has_the_required_properties(tmp_path):
    d = str(tmp_path / "g")
    m = gen.generate(3, 400, d)
    plots = [s["plots"] for s in m["states"].values()]
    assert len(plots) >= 3 and max(plots) >= 4 * min(plots)  # skewed sizes
    assert {s["records_mortyr"] for s in m["states"].values()} == {True, False}

    plot = _table(d, "PLOT")
    tree = _table(d, "TREE")
    cond = _table(d, "COND")
    geom = _table(d, "PLOTGEOM")
    # staggered 5-year panels: every plot is remeasured every 5 years, and
    # the first post-2000 survey year differs between plots
    p = plot[plot["INVYR"] >= 2000].sort_values("INVYR")
    gaps = p.groupby(["STATECD", "PLOT"])["INVYR"].diff().dropna()
    assert set(gaps) == {5}
    first = p.groupby(["STATECD", "PLOT"])["INVYR"].min()
    assert first.nunique() >= 5
    assert (plot["INVYR"] < 2000).any()
    assert plot["CN"].str.startswith("0").any()  # CN strings keep a leading zero
    # mortality with and without MORTYR
    dead = tree[tree["STATUSCD"] == 2]
    assert dead["MORTYR"].notna().any() and dead["MORTYR"].isna().any()
    # leave-sample codes and non-sampled / non-forest conditions, empty plots
    assert set(tree.loc[tree["STATUSCD"] == 0, "RECONCILECD"].dropna()) >= {5, 6, 9}
    assert {2, 5} <= set(cond["COND_STATUS_CD"])
    with_trees = set(zip(tree["STATECD"], tree["PLOT"]))
    all_plots = set(zip(plot["STATECD"], plot["PLOT"]))
    assert all_plots - with_trees
    # DIA crossing the 5.0 inch sapling line between surveys
    t = tree.sort_values("INVYR").groupby(["STATECD", "PLOT", "SUBP", "TREE"])["DIA"]
    crossed = (t.transform("min") < 5.0) & (t.transform("max") >= 5.0)
    assert crossed.any()
    # missing heights on live trees and broken tops
    live = tree[tree["STATUSCD"] == 1]
    assert live["HT"].isna().any()
    assert (tree["ACTUALHT"] < tree["HT"]).any()
    # all three NSVB coefficient levels, planted 131 and woodland species
    spcd = set(tree["SPCD"])
    for level, pool in gen.species_pools().items():
        assert spcd & set(pool), level
    planted = cond.loc[cond["STDORGCD"] == 1, "PLT_CN"]
    assert (tree["PLT_CN"].isin(planted) & tree["SPCD"].eq(131)).any()
    eco = set(geom["ECOSUBCD"])
    assert "999A" in eco and len(eco) >= 3
    with open(os.path.join(gen._RES, "median_crprop.csv"), encoding="utf-8-sig") as f:
        provinces = {r["Province"] for r in csv.DictReader(f)}
    assert any(e[:-2] in provinces for e in eco) and "999" not in provinces


def test_metric_names_match_the_contract(generated):
    pattern = harness.NAME_RE
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    layer = {m["name"] for m in SPEC["per_layer"]}
    for name in e2e | layer | {w["name"] for w in SPEC["workloads"]}:
        assert pattern.match(name), name
    # the run emits exactly the declared metrics in each mode
    res = {"latencies": [1.0, 2.0], "run_s": 1.5, "tree_years_per_s": 10.0,
           "failed": 0, "attempted": 2, "window": (0.0, 1.0), "runs": 2}
    assert set(run.end_to_end(3.0, res, 1024)) == e2e

    class _Tr:
        spans = []

        def duration(self, name):
            return 0.0

    class _Log:
        def total(self, ids):
            return Counters()

        def window(self, a, b):
            return Counters()

    d, m = generated["a"]
    ctx = workloads.Context(None, None, 5, d, m)
    tres = {"traced": 1.0, "per_fn": {f: [] for f in workloads.POP_FUNCS}, "files": 1, "bytes": 1}
    names = set(run.per_layer(ctx, _Tr(), _Log(), 1.0, 1.0, res, tres)) | {
        "bench.query_tail_pct", "bench.samples"}
    assert names == layer


def test_tail_is_the_eleventh_largest_sample():
    xs = [float(i) for i in range(1, 41)]
    value, pct = harness.tail(xs)
    assert value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == 10
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def _frame(n=50):
    rng = np.random.default_rng(0)
    raw = pd.DataFrame({
        "variant": ["annualized_midpt"] * n,
        "plot_ID": [f"9_1_1_{i // 5}" for i in range(n)],
        "tree_ID": [f"9_1_1_{i // 5}_1_{i}" for i in range(n)],
        "YEAR": np.arange(n) % 7 + 2003,
        "DIA": rng.uniform(1, 30, n).round(1),
        "STATUSCD": rng.integers(1, 3, n),
    })
    kinds = {"DIA": "e4", "STATUSCD": "int"}
    return raw, kinds


def test_digest_is_order_independent_and_flags_perturbation():
    raw, kinds = _frame()
    canon = checks.canonical(raw, checks.key_kinds() | kinds)
    shuffled = checks.canonical(raw.sample(frac=1, random_state=1), checks.key_kinds() | kinds)
    assert checks.digest(canon) == checks.digest(shuffled)

    bad = raw.copy()
    bad.loc[7, "DIA"] += 0.01  # 100 fixed-point units
    bad_c = checks.canonical(bad, checks.key_kinds() | kinds)
    assert checks.digest(bad_c) != checks.digest(canon)
    diff = checks.diff_frames(bad_c, canon, checks.KEYS, kinds)
    assert diff["mismatches"] == 1 and not checks.equivalent(diff)

    code = raw.copy()
    code.loc[3, "STATUSCD"] = 0
    code_c = checks.canonical(code, checks.key_kinds() | kinds)
    assert not checks.equivalent(checks.diff_frames(code_c, canon, checks.KEYS, kinds))

    missing = checks.canonical(raw.drop(index=4), checks.key_kinds() | kinds)
    assert not checks.equivalent(checks.diff_frames(missing, canon, checks.KEYS, kinds))

    # a one-unit rounding flip is reported as a flip, not a failure
    flip = canon.copy()
    flip.loc[2, "DIA"] = flip.loc[2, "DIA"] + 1
    diff = checks.diff_frames(flip, canon, checks.KEYS, kinds)
    assert diff["flips"] == 1 and checks.equivalent(diff)


def test_perturbed_sink_fails_the_run_check(tmp_path):
    """A timed run whose parquet differs from the checked output counts as
    a failed operation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw, _ = _frame(40)
    cols = {c: ("str" if c in ("PLT_CN",) else k) for c, k in checks.ANNUALIZE_COLS.items()}
    for c, k in cols.items():
        if k == "str":
            raw[c] = "x"
        elif k == "e4":
            raw[c] = raw["DIA"] * 1.5
        elif k == "bool":
            raw[c] = False
        else:
            raw[c] = raw["STATUSCD"]
    root = tmp_path / "annualized"

    def write(df):
        for (variant, state), part in df.assign(STATECD=9).groupby(["variant", "STATECD"]):
            d = root / f"variant={variant}" / f"STATECD={state}"
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(part.drop(columns=["variant", "STATECD"]), preserve_index=False),
                d / "part-0.parquet",
            )

    write(raw)
    job = workloads.StateJob(estimate=False)
    job.root = str(root)
    job.ref = checks.read_sink(job.root, job.kinds)
    job.ref_digest = checks.digest(job.ref)

    class _Ctx:
        notes: list = []

    assert job.verify(_Ctx())
    bad = raw.copy()
    bad.loc[11, "HT"] = bad.loc[11, "HT"] + 2.5
    write(bad)
    assert not job.verify(_Ctx())
    assert _Ctx.notes and "mismatches" in _Ctx.notes[-1]
