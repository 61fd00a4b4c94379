"""Seeded generator of FIA DataMart-shaped state inputs.

Writes the 9 tables the pipeline reads (``{STATECD}_{TABLE}.csv``, ``NA``
for nulls, control numbers as 15-digit strings, some with a leading zero)
for several states of skewed size.  The same ``--seed`` and ``--plots``
always give byte-identical files.

What the generated input contains, and why:

- several states of skewed size (plot shares roughly 8:4:2:1...), so the
  per-state partitions of the sink are uneven, as in a national run;
- staggered 5-year panels: a plot in panel ``p`` is measured in
  ``start + p + 5k``, so every inventory year holds a fifth of the plots;
  some plots also carry a pre-2000 periodic survey that ``fia_tidy`` drops;
- mortality with and without MORTYR: states alternate between recording
  MORTYR for most dead trees and never recording it, and some recorded
  years equal the last live survey (the "alive in MORTYR" rule);
- RECONCILECD leave-sample codes 3-9 on STATUSCD 0 trees, with and
  without measurements;
- non-sampled and non-forest conditions, fully non-sampled plot visits,
  and empty (tree-less) plots;
- DIA drawn so saplings cross the 5.0 inch line between surveys, which
  gates the CULL rule and the NSVB sawlog/merchantable bisection;
- missing heights and broken tops (ACTUALHT < HT);
- species and ECOSUBCD drawn from ``foresttime_builder_spark/resources``
  such that all three NSVB coefficient levels (division, species, Jenkins
  group), planted ``1_131`` and the woodland exclusion occur.  The pools
  are checked against the resource files at generation time.

DESIGNCD is 1 on every plot: the DuckDB twin of the annualization chain
carries the DESIGNCD 1 TPA bands only.

Usage::

    python3 fiabench/gen.py --seed 7 --out some/dir [--plots 1000]
"""

from __future__ import annotations

import argparse
import csv
import io
import json
import math
import os
import random

TABLES = (
    "PLOT",
    "COND",
    "TREE",
    "PLOTGEOM",
    "POP_ESTN_UNIT",
    "POP_EVAL",
    "POP_EVAL_TYP",
    "POP_PLOT_STRATUM_ASSGN",
    "POP_STRATUM",
)

COLUMNS = {
    "PLOT": [
        "CN", "PREV_PLT_CN", "INVYR", "STATECD", "UNITCD", "COUNTYCD",
        "PLOT", "PLOT_STATUS_CD", "MEASYEAR", "DESIGNCD", "INTENSITY",
        "LAT", "LON",
    ],
    "COND": [
        "CN", "PLT_CN", "INVYR", "STATECD", "UNITCD", "COUNTYCD", "PLOT",
        "CONDID", "COND_STATUS_CD", "CONDPROP_UNADJ", "PROP_BASIS",
        "STDORGCD", "FORTYPCD", "OWNGRPCD",
    ],
    "TREE": [
        "CN", "PLT_CN", "PREV_TRE_CN", "INVYR", "STATECD", "UNITCD",
        "COUNTYCD", "PLOT", "SUBP", "TREE", "CONDID", "STATUSCD", "SPCD",
        "DIA", "HT", "ACTUALHT", "CR", "CULL", "MORTYR", "RECONCILECD",
        "DECAYCD", "STANDING_DEAD_CD",
    ],
    "PLOTGEOM": ["CN", "STATECD", "INVYR", "ECOSUBCD", "ELEV_PUBLIC"],
    "POP_EVAL": [
        "CN", "EVAL_GRP_CN", "STATECD", "EVALID", "EVAL_DESCR",
        "START_INVYR", "END_INVYR",
    ],
    "POP_EVAL_TYP": ["CN", "EVAL_CN", "EVAL_GRP_CN", "EVAL_TYP", "STATECD"],
    "POP_ESTN_UNIT": [
        "CN", "EVAL_CN", "STATECD", "EVALID", "ESTN_UNIT", "AREALAND_EU",
        "AREA_USED", "P1PNTCNT_EU",
    ],
    "POP_STRATUM": [
        "CN", "ESTN_UNIT_CN", "STATECD", "EVALID", "ESTN_UNIT", "STRATUMCD",
        "P1POINTCNT", "P2POINTCNT", "EXPNS", "ADJ_FACTOR_SUBP",
    ],
    "POP_PLOT_STRATUM_ASSGN": [
        "CN", "STRATUM_CN", "PLT_CN", "STATECD", "INVYR", "UNITCD",
        "COUNTYCD", "PLOT", "EVALID", "ESTN_UNIT", "STRATUMCD",
    ],
}

#: state codes the generator draws from (the first is always drawn)
STATE_POOL = (9, 23, 33, 36, 44, 50)

#: species pools by NSVB coefficient level (checked by :func:`species_pools`)
DIVISION_LEVEL = (316, 802, 611, 12)  # "SPCD DIVISION" rows for 230/210/M220
SPECIES_LEVEL = (122, 202, 263, 823)  # SPCD rows, no rows for these divisions
JENKINS_LEVEL = (6135, 104)  # no SPCD / division rows: Jenkins fallback
PLANTED = (131, 111)  # "1_131" / "1_111" when STDORGCD = 1
WOODLAND = (475, 814, 69)  # JENKINS_SPGRPCD 10: excluded from carbon

#: initial trees per forested plot (mean 10, skewed like real plots)
TREE_COUNTS = (4, 5, 6, 6, 7, 8, 8, 9, 10, 11, 12, 14, 16, 19, 25)

#: ECOSUBCD pool: provinces 232 (division 230), M221 (M220), 212 (210),
#: 221 (220) are in median_crprop.csv; 999 is not (UNDEFINED fallback)
ECOSUBCD_POOL = ("232Aa", "232Bd", "M221Ab", "M221Dc", "212Ja", "221Ba", "999A")

_RES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "foresttime_builder_spark",
    "resources",
)


def species_pools() -> dict[str, tuple[int, ...]]:
    """The species pools, each checked against the resource files: raises
    if a species is missing from REF_SPECIES or sits at another level."""
    with open(os.path.join(_RES, "REF_SPECIES.csv")) as f:
        ref = {r["SPCD"]: r for r in csv.DictReader(f)}
    with open(os.path.join(_RES, "coefs", "volib_coefs.csv")) as f:
        coefs = list(csv.DictReader(f))
    division_keys = {r["SPCD_DIVISION"] for r in coefs if r["SPCD_DIVISION"] != "NA"}
    species_keys = {r["SPCD"] for r in coefs if r["SPCD"] != "NA"}
    divisions = ("230", "210", "M220", "220")

    def has_division(spcd: str) -> bool:
        return any(f"{spcd} {d}" in division_keys for d in divisions)

    checks = {
        "division": (DIVISION_LEVEL, lambda s: has_division(s)),
        "species": (
            SPECIES_LEVEL,
            lambda s: s in species_keys and not has_division(s),
        ),
        "jenkins": (
            JENKINS_LEVEL,
            lambda s: s not in species_keys
            and not any(k.split()[0] == s for k in division_keys),
        ),
        "planted": (PLANTED, lambda s: f"1_{s} 230" in division_keys),
        "woodland": (WOODLAND, lambda s: ref[s]["WOODLAND"] == "Y"),
    }
    for level, (pool, ok) in checks.items():
        for spcd in pool:
            s = str(spcd)
            if s not in ref or not ok(s):
                raise ValueError(f"species {spcd} is not a {level}-level species")
    return {level: pool for level, (pool, _ok) in checks.items()}


def jenkins_case() -> str:
    """SQL ``CASE`` giving JENKINS_SPGRPCD for every generated species (the
    DuckDB twin's stand-in for the REF_SPECIES join)."""
    with open(os.path.join(_RES, "REF_SPECIES.csv")) as f:
        ref = {int(r["SPCD"]): r for r in csv.DictReader(f)}
    spcds = sorted({s for pool in species_pools().values() for s in pool})
    arms = " ".join(
        f"WHEN SPCD = {s} THEN {int(float(ref[s]['JENKINS_SPGRPCD']))}"
        for s in spcds
    )
    return f"CASE {arms} END"


def _cell(v) -> str:
    if v is None:
        return "NA"
    if isinstance(v, float):
        return repr(v)
    return str(v)


class _Ids:
    """Control-number minting: 15-digit strings, unique per table."""

    def __init__(self, statecd: int):
        self.statecd = statecd
        self.n = 0

    def next(self, kind: int) -> str:
        self.n += 1
        return f"{self.statecd:02d}{kind}{self.n:012d}"


def _state_sizes(rng: random.Random, n_states: int, plots: int) -> list[int]:
    weights = [2.0 ** -i * rng.uniform(0.8, 1.25) for i in range(n_states)]
    total = sum(weights)
    sizes = [max(10, int(plots * w / total)) for w in weights]
    sizes[0] += plots - sum(sizes)
    if sizes[0] < sizes[1]:
        raise ValueError(f"{plots} plots are too few for {n_states} states")
    return sizes


def _height(rng: random.Random, dia: float, woodland: bool) -> int:
    if woodland:
        return max(2, int(3 + 1.8 * dia + rng.uniform(-2, 2)))
    return max(5, int(4.5 + 75 * (1 - math.exp(-0.07 * dia)) + rng.uniform(-6, 6)))


def _gen_state(rng: random.Random, statecd: int, n_plots: int, records_mortyr: bool):
    """One state's rows: {table: [row dict]}."""
    ids = _Ids(statecd)
    out = {t: [] for t in ("PLOT", "COND", "TREE", "PLOTGEOM")}
    eco_home = rng.sample(ECOSUBCD_POOL[:-1], 2)
    start = 2000 + rng.randint(1, 3)
    n_surveys = 4
    plot_keys = []  # (unitcd, countycd, plot, [(year, plt_cn)], forested)
    hardwood = DIVISION_LEVEL + SPECIES_LEVEL + JENKINS_LEVEL
    # empty plots and per-plot tree counts are a seeded permutation of a
    # fixed multiset, so every seed yields about the same amount of work
    n_empty = max(1, round(0.08 * n_plots))
    empties = set(rng.sample(range(n_plots), n_empty))
    counts = [TREE_COUNTS[i % len(TREE_COUNTS)] for i in range(n_plots)]
    rng.shuffle(counts)
    for i in range(n_plots):
        unitcd = 1 + i % 3
        countycd = 1 + 2 * rng.randint(0, 9)
        plot = 10000 + i
        panel = rng.randint(0, 4)
        years = [start + panel + 5 * k for k in range(n_surveys)]
        if rng.random() < 0.15:
            years = [1990 + rng.randint(0, 9)] + years
        empty = i in empties
        intensity = 2 if rng.random() < 0.1 else 1
        planted = (not empty) and rng.random() < 0.15
        eco = "999A" if rng.random() < 0.05 else rng.choice(eco_home)
        two_conds = (not empty) and rng.random() < 0.15
        split_prop = round(rng.uniform(0.2, 0.5), 4)
        cond2_status = rng.choice((1, 2, 5))
        skip_visit = years[-2] if (not empty and rng.random() < 0.04) else None
        lat = round(rng.uniform(38.0, 47.0), 6)
        lon = round(rng.uniform(-80.0, -67.0), 6)
        visits = []
        prev_cn = None
        for y in years:
            cn = ids.next(1)
            visits.append((y, cn))
            nonsampled = y == skip_visit
            out["PLOT"].append({
                "CN": cn, "PREV_PLT_CN": prev_cn, "INVYR": y,
                "STATECD": statecd, "UNITCD": unitcd, "COUNTYCD": countycd,
                "PLOT": plot, "PLOT_STATUS_CD": 3 if nonsampled else (2 if empty else 1),
                "MEASYEAR": y, "DESIGNCD": 1, "INTENSITY": intensity,
                "LAT": lat, "LON": lon,
            })
            out["PLOTGEOM"].append({
                "CN": cn, "STATECD": statecd, "INVYR": y, "ECOSUBCD": eco,
                "ELEV_PUBLIC": rng.randint(0, 3000),
            })
            conds = []
            if empty:
                conds.append((1, 2, 1.0))
            elif nonsampled:
                conds.append((1, 5, 1.0))
            elif two_conds:
                conds.append((1, 1, round(1.0 - split_prop, 4)))
                conds.append((2, cond2_status, split_prop))
            else:
                conds.append((1, 1, 1.0))
            for condid, status, prop in conds:
                forest = status == 1
                out["COND"].append({
                    "CN": ids.next(2), "PLT_CN": cn, "INVYR": y,
                    "STATECD": statecd, "UNITCD": unitcd, "COUNTYCD": countycd,
                    "PLOT": plot, "CONDID": condid, "COND_STATUS_CD": status,
                    "CONDPROP_UNADJ": prop, "PROP_BASIS": "SUBP",
                    "STDORGCD": (1 if planted and condid == 1 else 0) if forest else None,
                    "FORTYPCD": rng.choice((161, 503, 801, 520)) if forest else None,
                    "OWNGRPCD": rng.choice((10, 20, 30, 40)),
                })
            prev_cn = cn
        plot_keys.append((unitcd, countycd, plot, visits, not empty))
        if empty:
            continue

        # trees: initial cohort + ingrowth at later surveys
        inv = [(y, cn) for y, cn in visits if y >= 2000 and y != skip_visit]
        old = [(y, cn) for y, cn in visits if y < 2000]
        dom = rng.choice(PLANTED if planted else hardwood)
        n_trees = counts[i]
        tree_no = 0
        for t in range(n_trees + 3):
            entry = 0 if t < n_trees else rng.randint(1, len(inv) - 1)
            if t >= n_trees and rng.random() < 0.5:
                continue
            tree_no += 1
            r = rng.random()
            if planted:
                spcd = dom if r < 0.8 else rng.choice(hardwood)
            elif r < 0.45:
                spcd = dom
            elif r < 0.93:
                spcd = rng.choice(hardwood)
            else:
                spcd = rng.choice(WOODLAND)
            woodland = spcd in WOODLAND
            dia = round(rng.uniform(1.0, 4.9), 1) if rng.random() < 0.4 else round(
                min(40.0, 5.0 + rng.expovariate(1 / 6.0)), 1
            )
            growth = rng.uniform(0.05, 0.35)
            condid = 2 if (two_conds and cond2_status == 1 and rng.random() < 0.3) else 1
            moves_cond = two_conds and cond2_status != 1 and rng.random() < 0.15
            subp = rng.randint(1, 4)
            status = 1
            sdc = decay = None
            mortyr = None
            prev_tre = None
            prev_year = None
            changes_species = rng.random() < 0.02
            records = list(old[:1] if entry == 0 and rng.random() < 0.5 else []) + inv[entry:]
            for k, (y, cn) in enumerate(records):
                if k > 0 and status == 1:
                    dia = round(dia + growth * (y - prev_year) + rng.uniform(-0.2, 0.2), 1)
                    dia = max(1.0, dia)
                recon = 1 if (k == 0 and entry > 0) else None
                if k > 0 and status == 1:
                    u = rng.random()
                    if u < 0.09:  # died since the last survey
                        status = 2
                        sdc = 1 if rng.random() < 0.7 else 0
                        decay = rng.randint(1, 5) if sdc == 1 else None
                        if records_mortyr and rng.random() < 0.7:
                            mortyr = rng.randint(prev_year, y - 1)
                    elif u < 0.12:  # left the sample
                        status = 0
                        recon = rng.choice((3, 4, 5, 6, 7, 8, 9))
                elif k > 0 and status == 2:
                    if sdc == 0 or rng.random() < 0.4:
                        break  # fallen or gone: no further record
                    decay = min(5, (decay or 1) + 1)
                    if rng.random() < 0.3:
                        sdc = 0
                if changes_species and k == len(records) - 1:
                    spcd = rng.choice(hardwood)
                ht = _height(rng, dia, woodland)
                measured = status == 1 or (status == 2 and sdc == 1) or (
                    status == 0 and rng.random() < 0.5
                )
                actualht = None
                if measured and rng.random() < 0.06:
                    actualht = max(1, int(ht * rng.uniform(0.4, 0.9)))
                if status == 1 and rng.random() < 0.03:
                    ht_out = None
                else:
                    ht_out = ht if measured else None
                cull = None
                if measured and dia >= 5.0 and rng.random() < 0.8:
                    cull = rng.choice((0, 0, 0, 2, 5, 10, 20))
                cr = rng.randint(10, 80) if status == 1 and rng.random() < 0.95 else None
                tcn = ids.next(3)
                out["TREE"].append({
                    "CN": tcn, "PLT_CN": cn, "PREV_TRE_CN": prev_tre, "INVYR": y,
                    "STATECD": statecd, "UNITCD": unitcd, "COUNTYCD": countycd,
                    "PLOT": plot, "SUBP": subp, "TREE": tree_no,
                    "CONDID": 2 if (moves_cond and k == len(records) - 1) else condid,
                    "STATUSCD": status, "SPCD": spcd,
                    "DIA": dia if measured else None, "HT": ht_out,
                    "ACTUALHT": actualht, "CR": cr, "CULL": cull,
                    "MORTYR": mortyr if status == 2 else None,
                    "RECONCILECD": recon,
                    "DECAYCD": decay if status == 2 else None,
                    "STANDING_DEAD_CD": sdc if status == 2 else None,
                })
                prev_tre, prev_year = tcn, y
                if status == 0:
                    break
    return out, plot_keys, start


def _gen_pop(rng: random.Random, statecd: int, plot_keys, start: int):
    """POP tables: one evaluation per 5-year cycle (windows do not overlap,
    so each plot visit is assigned once), estimation unit = UNITCD, three
    strata per unit."""
    ids = _Ids(statecd)
    out = {t: [] for t in TABLES[4:]}
    last = max(y for *_k, visits, _f in plot_keys for y, _cn in visits)
    cycle = 0
    while start + 5 * cycle <= last:
        lo, hi = start + 5 * cycle, start + 5 * cycle + 4
        evalid = statecd * 10000 + (hi % 100) * 100 + 1
        eval_cn, grp_cn = ids.next(4), ids.next(5)
        out["POP_EVAL"].append({
            "CN": eval_cn, "EVAL_GRP_CN": grp_cn, "STATECD": statecd,
            "EVALID": evalid, "EVAL_DESCR": f"STATE {statecd} {lo}-{hi}",
            "START_INVYR": lo, "END_INVYR": hi,
        })
        for typ in ("EXPALL", "EXPCURR", "EXPVOL"):
            out["POP_EVAL_TYP"].append({
                "CN": ids.next(6), "EVAL_CN": eval_cn, "EVAL_GRP_CN": grp_cn,
                "EVAL_TYP": typ, "STATECD": statecd,
            })
        members: dict[tuple[int, int], list] = {}
        for unitcd, countycd, plot, visits, forested in plot_keys:
            for y, cn in visits:
                if lo <= y <= hi:
                    h = (plot * 2654435761 + y) % 7
                    stratum = 1 if h < 3 else (2 if h < 5 else 3)
                    if not forested:
                        stratum = 3
                    members.setdefault((unitcd, stratum), []).append(
                        (cn, y, unitcd, countycd, plot)
                    )
        for unitcd in sorted({u for u, _s in members}):
            n_unit = sum(len(v) for (u, _s), v in members.items() if u == unitcd)
            area = round(n_unit * rng.uniform(4500.0, 7000.0), 1)
            unit_cn = ids.next(7)
            p1_unit = n_unit * 40
            out["POP_ESTN_UNIT"].append({
                "CN": unit_cn, "EVAL_CN": eval_cn, "STATECD": statecd,
                "EVALID": evalid, "ESTN_UNIT": unitcd,
                "AREALAND_EU": round(area * 1.02, 1), "AREA_USED": area,
                "P1PNTCNT_EU": p1_unit,
            })
            for stratumcd in (1, 2, 3):
                plots_in = members.get((unitcd, stratumcd), [])
                if not plots_in:
                    continue
                p1 = int(p1_unit * len(plots_in) / n_unit * rng.uniform(0.85, 1.15))
                stratum_cn = ids.next(8)
                out["POP_STRATUM"].append({
                    "CN": stratum_cn, "ESTN_UNIT_CN": unit_cn,
                    "STATECD": statecd, "EVALID": evalid, "ESTN_UNIT": unitcd,
                    "STRATUMCD": stratumcd, "P1POINTCNT": p1,
                    "P2POINTCNT": len(plots_in),
                    "EXPNS": round(area * p1 / p1_unit / len(plots_in), 6),
                    "ADJ_FACTOR_SUBP": round(rng.uniform(1.0, 1.15), 6),
                })
                for cn, y, u, countycd, plot in plots_in:
                    out["POP_PLOT_STRATUM_ASSGN"].append({
                        "CN": ids.next(9), "STRATUM_CN": stratum_cn,
                        "PLT_CN": cn, "STATECD": statecd, "INVYR": y,
                        "UNITCD": u, "COUNTYCD": countycd, "PLOT": plot,
                        "EVALID": evalid, "ESTN_UNIT": u, "STRATUMCD": stratumcd,
                    })
        cycle += 1
    return out


def generate(seed: int, plots: int, out_dir: str) -> dict:
    """Write every state's 9 CSVs to ``out_dir``; return the manifest
    (also written as ``MANIFEST.json``)."""
    species_pools()  # fail before writing if the resources changed
    rng = random.Random(seed)
    n_states = 4
    # state 9 is always present: its CNs keep a leading zero
    states = [STATE_POOL[0]] + sorted(rng.sample(STATE_POOL[1:], n_states - 1))
    rng.shuffle(states)  # the biggest state is not always the lowest code
    sizes = _state_sizes(rng, n_states, plots)
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "plots": plots, "states": {}, "bytes": 0, "rows": {}}
    for i, (statecd, n_plots) in enumerate(zip(states, sizes)):
        srng = random.Random(f"{seed}:{statecd}")
        records_mortyr = i % 2 == 0
        rows, plot_keys, start = _gen_state(srng, statecd, n_plots, records_mortyr)
        rows.update(_gen_pop(srng, statecd, plot_keys, start))
        for table in TABLES:
            cols = COLUMNS[table]
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            w.writerow(cols)
            for r in rows[table]:
                w.writerow([_cell(r[c]) for c in cols])
            data = buf.getvalue().encode()
            with open(os.path.join(out_dir, f"{statecd}_{table}.csv"), "wb") as f:
                f.write(data)
            manifest["bytes"] += len(data)
            manifest["rows"][table] = manifest["rows"].get(table, 0) + len(rows[table])
        manifest["states"][str(statecd)] = {
            "plots": n_plots,
            "records_mortyr": records_mortyr,
            "first_panel_year": start,
        }
    manifest["state_codes"] = [int(s) for s in manifest["states"]]
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    from workloads import PLOTS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--plots", type=int, default=PLOTS, help=f"total plots (default {PLOTS}, the benchmark's size)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    m = generate(args.seed, args.plots, args.out)
    print(json.dumps({"states": m["states"], "rows": m["rows"], "bytes": m["bytes"]}))


if __name__ == "__main__":
    main()
