"""The three workloads: what each sets up, runs, checks and traces.

All of them drive the product through its public functions only:
``sources.fia.fia_load``, ``plans.state_pipeline.run_states``, the
``plans.fia`` / ``plans.carbon`` stage functions (traced breakdown) and the
three ``plans.population`` functions.
"""

from __future__ import annotations

import os
import random
import time
from statistics import median

import pandas as pd

import checks
import gen
from harness import cores

#: generated input size (total plots over all states), chosen from the
#: calibration in CALIBRATION.json
PLOTS = 200

#: fewest timed state runs per invocation (their median is reported); a
#: third run would push the check's projected wall time near its budget
MIN_RUNS = 2

#: the tables ``run_states`` reads (fia_load loads all nine)
PIPELINE_TABLES = ("PLOT", "COND", "TREE", "PLOTGEOM")

FIA_LAYERS = ("fia_tidy", "expand_data", "interpolate_data", "adjust_mortality")
CARBON_LAYERS = ("prep_carbon", "estimate_carbon")
POP_FUNCS = ("estimate_population", "estimate_population_stratified", "multi_grain_sweep")


class Context:
    """What one invocation shares between set-up, runs and checks."""

    def __init__(self, spark, work, seed: int, csv_dir: str, manifest: dict, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.csv_dir = csv_dir
        self.manifest = manifest
        self.states = [str(s) for s in manifest["state_codes"]]
        self.tracer = tracer
        self.notes: list[str] = []

    def load(self):
        from foresttime_builder_spark.sources.fia import fia_load

        return fia_load(self.spark, self.states, self.csv_dir)

    def duck(self):
        return checks.duckdb_connect(cores(), self.work.sub("duck"))


def full_action(df) -> int:
    """Compute every output column (the hash consumes each one, so no column
    is pruned) and return the row count."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])).alias("h"),
    ).collect()[0]
    return int(row["n"])


def check_sink(ctx: Context, con, root: str, estimate: bool, table: str | None = None):
    """Compare the sink under ``root`` with the DuckDB twin of the job;
    return (the sink's canonical frame, whether they agree).  With
    ``table`` the twin's raw output is also kept as a DuckDB table with a
    STATECD column, for the population oracles."""
    kinds = checks.JOB_COLS if estimate else checks.ANNUALIZE_COLS
    got = checks.read_sink(root, kinds)
    sql = checks.state_oracle_sql(ctx.csv_dir, ctx.states, gen.jenkins_case(), estimate)
    if table:
        con.execute(
            f"CREATE TEMP TABLE {table} AS SELECT *, "
            f"CAST(split_part(plot_ID, '_', 1) AS INTEGER) AS STATECD FROM ({sql})"
        )
        sql = f"SELECT * FROM {table}"
    want = checks.canonical(con.execute(sql).df(), checks.key_kinds() | kinds)
    if checks.digest(got) == checks.digest(want):
        return got, True
    diff = checks.diff_frames(got, want, checks.KEYS, kinds)
    ctx.notes.append(f"sink vs DuckDB: {diff}")
    return got, checks.equivalent(diff)


class StateJob:
    """``fia_load`` -> ``run_states`` -> partitioned parquet, timed per run."""

    def __init__(self, estimate: bool):
        self.estimate = estimate
        self.kinds = checks.JOB_COLS if estimate else checks.ANNUALIZE_COLS

    # -- set-up and check --------------------------------------------------
    def setup(self, ctx: Context) -> None:
        self.out_dir = ctx.work.sub("sink")
        self.root = os.path.join(self.out_dir, "annualized")
        self.run(ctx)  # warm-up: compiles the plans and writes the output

    def check(self, ctx: Context) -> bool:
        con = ctx.duck()
        try:
            self.ref, ok = check_sink(ctx, con, self.root, self.estimate)
        finally:
            con.close()
        self.ref_digest = checks.digest(self.ref)
        self.rows = len(self.ref)
        return ok

    # -- timed operation ---------------------------------------------------
    def run(self, ctx: Context) -> None:
        from foresttime_builder_spark.plans.state_pipeline import run_states

        run_states(ctx.spark, ctx.load(), self.out_dir, estimate=self.estimate)

    def verify(self, ctx: Context) -> bool:
        got = checks.read_sink(self.root, self.kinds)
        if checks.digest(got) == self.ref_digest:
            return True
        diff = checks.diff_frames(got, self.ref, checks.KEYS, self.kinds)
        ctx.notes.append(f"run output vs checked output: {diff}")
        return checks.equivalent(diff)

    def measure(self, ctx: Context, seconds: float, rss) -> dict:
        """Closed loop, one client: runs back to back until ``seconds`` of
        run time have been measured, and at least ``MIN_RUNS`` runs."""
        durations, failed = [], 0
        start = time.time()
        while sum(durations) < seconds or len(durations) < MIN_RUNS:
            with rss:
                t0 = time.perf_counter()
                self.run(ctx)
                durations.append(time.perf_counter() - t0)
            if not self.verify(ctx):
                failed += 1
        return {
            "window": (start, time.time()),
            "runs": len(durations),
            "latencies": durations,
            "run_s": median(durations),
            "tree_years_per_s": median([self.rows / d for d in durations]),
            "attempted": len(durations),
            "failed": failed,
        }

    # -- traced breakdown --------------------------------------------------
    def trace(self, ctx: Context) -> dict:
        """Plan-build spans around each public call, then prefix-cumulative
        executions, then one ``run_states`` under a span."""
        from pyspark.sql import functions as F

        from foresttime_builder_spark.plans import carbon, fia
        from foresttime_builder_spark.plans.state_pipeline import run_states

        tr = ctx.tracer
        layers = FIA_LAYERS + (CARBON_LAYERS if self.estimate else ())
        db = ctx.load()

        def build(upto: str, timed: bool):
            """The plan ``run_states`` builds, cut after ``upto``; with
            ``timed`` each public call runs inside a build span."""
            def call(name, fn, *a, **kw):
                if not timed:
                    return fn(*a, **kw)
                with tr.span(f"build.{name}"):
                    return fn(*a, **kw)

            df = call("fia_tidy", fia.fia_tidy, db)
            if upto == "fia_tidy":
                return df, None
            df = call("expand_data", fia.expand_data, df)
            if upto == "expand_data":
                return df, None
            df = call("interpolate_data", fia.interpolate_data, df)
            if upto == "interpolate_data":
                return df, None
            interp = df.persist()
            tagged = [
                call("adjust_mortality", fia.adjust_mortality, interp, use_mortyr=um)
                .withColumn("variant", F.lit(name))
                for name, um in (("annualized_midpt", False), ("annualized_mortyr", "auto"))
            ]
            df = tagged[0].unionByName(tagged[1])
            if upto == "adjust_mortality":
                return df, interp
            df = call("prep_carbon", carbon.prep_carbon, df)
            if upto == "prep_carbon":
                return df, interp
            return call("estimate_carbon", carbon.estimate_carbon, df), interp

        _df, interp = build(layers[-1], timed=True)
        if interp is not None:
            interp.unpersist()

        # prefix-cumulative executions: the raw scan, then the chain built
        # and cut after each layer; a layer's self time (its plan build and
        # execution) is the difference between consecutive prefixes
        execs = {}
        with tr.span("exec.scan") as s:
            scan_rows = sum(full_action(db[t]) for t in PIPELINE_TABLES)
        execs["scan"] = (s, scan_rows)
        for layer in layers:
            # the build runs inside the span: adjust_mortality's "auto"
            # probe executes (and fills part of the cache) at build time
            with tr.span(f"exec.{layer}") as s:
                df, interp = build(layer, timed=False)
                rows = full_action(df)
            execs[layer] = (s, rows)
            if interp is not None:
                interp.unpersist()

        # the sink on its own: the full plan persisted and computed, then
        # written with run_states' partitioning; write_s times the write
        # alone, so the layer spans and this one are independent
        df, interp = build(layers[-1], timed=False)
        if "STATECD" not in df.columns:
            df = df.withColumn(
                "STATECD", F.split(F.col("plot_ID"), "_").getItem(0).cast("int")
            )
        df = df.persist()
        full_action(df)
        with tr.span("exec.write") as s:
            df.write.mode("overwrite").partitionBy("variant", "STATECD").parquet(
                os.path.join(ctx.work.sub("trace-sink"), "annualized")
            )
        execs["write"] = (s, 0)
        df.unpersist()
        interp.unpersist()

        with tr.span("traced.run_states") as s:
            run_states(ctx.spark, ctx.load(), self.out_dir, estimate=self.estimate)
        traced = s["end"] - s["start"]
        files, nbytes = sink_layout(self.root)
        return {
            "traced": traced,
            "execs": execs,
            "layers": layers,
            "files": files,
            "bytes": nbytes,
        }


def sink_layout(root: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


# ---------------------------------------------------------------------------
# population queries
# ---------------------------------------------------------------------------

TREE_DOMAINS = (
    "STATUSCD = 1",
    "STATUSCD = 1 AND DIA >= 5",
    "STATUSCD = 2",
    "STATUSCD = 1 AND SPCD IN (131, 111, 122, 202, 263, 12)",
)
AREA_DOMAINS = (
    "COND_STATUS_CD = 1 AND INTENSITY = 1",
    "COND_STATUS_CD = 1",
)
GRAIN_POOL = (("SPCD",), ("YEAR",), ("STATECD",), ("SPCD", "YEAR"), ("STATECD", "YEAR"), ())
N_QUERIES = 6
WINDOW = 8
MIN_PASSES = 4
_POP_KINDS = {"YEAR": "int", "total_tons": "e2", "total_area": "e2", "tons_per_acre": "e6"}


def query_specs(seed: int, states: list[str], years: tuple[int, int]) -> list[dict]:
    """A seeded mix of the three population functions, two queries each,
    over varying tree and area domains, year windows, states and mortality
    variants.  The amount of data a pass reads barely depends on the seed:
    every window spans ``WINDOW`` years, and a query reads either every
    state or every state but one of the smaller ones."""
    rng = random.Random(f"{seed}:queries")
    lo_min, hi_max = years[0] + 1, years[1] - 1
    specs = []
    for i in range(N_QUERIES):
        fn = POP_FUNCS[i // 2]
        lo = rng.randint(lo_min, max(lo_min, hi_max - WINDOW + 1))
        chosen = list(states)
        if i % 2:
            chosen.remove(rng.choice(states[1:]))
        spec = {
            "fn": fn,
            "variant": rng.choice(("annualized_midpt", "annualized_mortyr")),
            "states": sorted(chosen, key=int),
            "years": (lo, min(hi_max, lo + WINDOW - 1)),
            "value_col": rng.choice(("CARBON_AG", "DRYBIO_AG")),
        }
        if fn == "multi_grain_sweep":
            spec["grains"] = [list(g) for g in rng.sample(GRAIN_POOL, 3)]
        else:
            spec["tree_domain"] = rng.choice(TREE_DOMAINS)
            spec["area_domain"] = rng.choice(AREA_DOMAINS)
        specs.append(spec)
    return specs


def _sweep_kinds(spec: dict) -> dict[str, str]:
    cols = sorted({c for g in spec["grains"] for c in g})
    return {c: "int" for c in cols} | {"grain": "str", "weighted_value": "e2", "n_rows": "int"}


def _kinds(spec: dict) -> tuple[dict[str, str], list[str]]:
    if spec["fn"] == "multi_grain_sweep":
        k = _sweep_kinds(spec)
        return k, [c for c in k if c not in ("weighted_value", "n_rows")]
    return _POP_KINDS, ["YEAR"]


def _sql_list(xs) -> str:
    return ", ".join(str(int(x)) for x in xs)


class PopQueries:
    """Population queries over the parquet the state job staged in set-up."""

    def setup(self, ctx: Context) -> None:
        from foresttime_builder_spark.plans.state_pipeline import run_states

        self.out_dir = ctx.work.sub("sink")
        self.root = os.path.join(self.out_dir, "annualized")
        self.db = ctx.load()
        run_states(ctx.spark, self.db, self.out_dir, estimate=True)
        years = self._years(ctx)
        self.specs = query_specs(ctx.seed, ctx.states, years)
        self.areas = self._areas(ctx)
        self.warm = [self.run_query(ctx, s) for s in self.specs]  # warm-up pass

    def _years(self, ctx: Context) -> tuple[int, int]:
        """Year range of the staged table (and its row count)."""
        import pyarrow.dataset as ds

        t = ds.dataset(self.root, format="parquet", partitioning="hive").to_table(columns=["YEAR"])
        ys = t.column("YEAR").to_pandas()
        self.rows = len(ys)  # tree-years staged, both variants
        return int(ys.min()), int(ys.max())

    def _areas(self, ctx: Context) -> dict[str, float]:
        """Area represented per state: AREA_USED of its latest evaluation."""
        out = {}
        for s in ctx.states:
            eu = pd.read_csv(os.path.join(ctx.csv_dir, f"{s}_POP_ESTN_UNIT.csv"))
            ev = pd.read_csv(os.path.join(ctx.csv_dir, f"{s}_POP_EVAL.csv"))
            last = ev.loc[ev["END_INVYR"].idxmax(), "EVALID"]
            out[s] = float(eu.loc[eu["EVALID"] == last, "AREA_USED"].sum())
        return out

    def area(self, spec: dict) -> float:
        return round(sum(self.areas[s] for s in spec["states"]), 1)

    def frame(self, ctx: Context, spec: dict):
        from pyspark.sql import functions as F

        lo, hi = spec["years"]
        return (
            ctx.spark.read.parquet(os.path.join(self.root, f"variant={spec['variant']}"))
            .filter(F.col("STATECD").isin([int(s) for s in spec["states"]]))
            .filter(F.col("YEAR").between(lo, hi))
        )

    def build_query(self, ctx: Context, spec: dict):
        from pyspark.sql import functions as F

        from foresttime_builder_spark.plans import population

        df = self.frame(ctx, spec)
        if spec["fn"] == "multi_grain_sweep":
            return population.multi_grain_sweep(df, spec["grains"], value_col=spec["value_col"])
        td, ad = F.expr(spec["tree_domain"]), F.expr(spec["area_domain"])
        if spec["fn"] == "estimate_population":
            return population.estimate_population(
                df, area=self.area(spec), tree_domain=td, area_domain=ad,
                value_col=spec["value_col"],
            )
        states = [int(s) for s in spec["states"]]
        stratum = self.db["POP_STRATUM"].filter(F.col("STATECD").isin(states))
        assgn = self.db["POP_PLOT_STRATUM_ASSGN"].filter(F.col("STATECD").isin(states))
        return population.estimate_population_stratified(
            df, stratum, assgn, tree_domain=td, area_domain=ad, value_col=spec["value_col"]
        )

    def run_query(self, ctx: Context, spec: dict) -> pd.DataFrame:
        return self.finish(self.build_query(ctx, spec), spec)

    @staticmethod
    def finish(query, spec: dict) -> pd.DataFrame:
        kinds, _keys = _kinds(spec)
        return checks.canonical(query.toPandas(), kinds)

    # -- check ---------------------------------------------------------------
    def check(self, ctx: Context) -> bool:
        con = ctx.duck()
        try:
            _ref, ok = check_sink(ctx, con, self.root, estimate=True, table="est")
            self.ref_digests = []
            for spec, got in zip(self.specs, self.warm):
                kinds, keys = _kinds(spec)
                want = checks.canonical(con.execute(self.oracle_sql(ctx, spec)).df(), kinds)
                if checks.digest(got) != checks.digest(want):
                    diff = checks.diff_frames(got, want, keys, kinds)
                    if not checks.equivalent(diff):
                        ctx.notes.append(f"query {spec} vs DuckDB: {diff}")
                        ok = False
                self.ref_digests.append(checks.digest(got))
        finally:
            con.close()
        return ok

    def oracle_sql(self, ctx: Context, spec: dict) -> str:
        """DuckDB twin of the query, adapted from the repository's population
        oracles (``carbon_on_synthetic.ORACLE_POPULATION*``/``ORACLE_GRAIN_SWEEP``)
        with the spec's filters, domains, value column and POP tables."""
        lo, hi = spec["years"]
        where = (
            f"variant = '{spec['variant']}' AND STATECD IN ({_sql_list(spec['states'])})"
            f" AND YEAR BETWEEN {lo} AND {hi}"
        )
        v = spec["value_col"]
        fin = f"CASE WHEN isfinite({v}) THEN {v} ELSE 0.0 END"
        if spec["fn"] == "multi_grain_sweep":
            cols = sorted({c for g in spec["grains"] for c in g})
            sets = ", ".join("(" + ", ".join(g) + ")" for g in spec["grains"])
            label = ", ".join(f"CASE WHEN grouping({c}) = 0 THEN '{c}' END" for c in cols)
            sel = "".join(f"{c}, " for c in cols)
            return f"""
SELECT {sel}concat_ws('|', {label}) AS grain,
  sum(_wv) AS weighted_value, count(*) AS n_rows
FROM (SELECT *, {fin} * coalesce(TPA_UNADJ, 0.0) AS _wv FROM est WHERE {where})
GROUP BY GROUPING SETS ({sets})"""
        adi = f"CASE WHEN ({spec['area_domain']}) THEN 1.0 ELSE 0.0 END"
        tdi = f"(CASE WHEN ({spec['tree_domain']}) THEN 1.0 ELSE 0.0 END) * {adi}"
        if spec["fn"] == "estimate_population":
            dim = f"""expns AS (
  SELECT YEAR, CAST({self.area(spec)} AS DOUBLE) / count(DISTINCT plot_ID) AS EXPNS
  FROM annest GROUP BY YEAR
),
d AS (
  SELECT a.*, e.EXPNS, 1.0 AS ADJ, {adi} AS aDI, {tdi} AS tDI
  FROM annest a LEFT JOIN expns e ON a.YEAR = e.YEAR
)"""
            grp = "EXPNS"
        else:
            def raw(t):
                return checks.read_csv_sql(ctx.csv_dir, spec["states"], t)

            dim = f"""popdim AS (
  SELECT a.PLT_CN, s.EXPNS, s.ADJ_FACTOR_SUBP
  FROM {raw('POP_PLOT_STRATUM_ASSGN')} a
  JOIN {raw('POP_STRATUM')} s ON a.STRATUM_CN = s.CN
),
d AS (
  SELECT a.*, coalesce(m.EXPNS, 0.0) AS EXPNS,
    coalesce(m.ADJ_FACTOR_SUBP, 0.0) AS ADJ, m.EXPNS AS _e, m.ADJ_FACTOR_SUBP AS _adj,
    {adi} AS aDI, {tdi} AS tDI
  FROM annest a LEFT JOIN popdim m ON a.PLT_CN = m.PLT_CN
)"""
            grp = "_e, _adj"
        return f"""WITH annest AS (SELECT * FROM est WHERE {where}),
{dim},
conds AS (
  SELECT YEAR, plot_ID, CONDID, CONDPROP_UNADJ, {grp}, aDI,
    sum({fin} * coalesce(TPA_UNADJ, 0.0) * ADJ * EXPNS * tDI / 2000.0) AS _tons,
    any_value(coalesce(CONDPROP_UNADJ, 0.0) * ADJ * EXPNS * aDI) AS _area
  FROM d GROUP BY YEAR, plot_ID, CONDID, CONDPROP_UNADJ, {grp}, aDI
),
yearly AS (
  SELECT YEAR, sum(_tons) AS total_tons, sum(_area) AS total_area
  FROM conds GROUP BY YEAR
)
SELECT YEAR, total_tons, total_area, total_tons / nullif(total_area, 0) AS tons_per_acre
FROM yearly"""

    # -- timed operation -------------------------------------------------------
    def verify(self, ctx: Context, i: int, got: pd.DataFrame) -> bool:
        if checks.digest(got) == self.ref_digests[i]:
            return True
        kinds, keys = _kinds(self.specs[i])
        diff = checks.diff_frames(got, self.warm[i], keys, kinds)
        ctx.notes.append(f"query {i} vs checked output: {diff}")
        return checks.equivalent(diff)

    def measure(self, ctx: Context, seconds: float, rss) -> dict:
        """Closed loop, one client: passes over the query mix until
        ``seconds`` of query time have been measured, and at least
        ``MIN_PASSES`` passes, so the tail percentile rests on the same
        number of samples from run to run."""
        latencies, passes, failed = [], [], 0
        start = time.time()
        while sum(passes) < seconds or len(passes) < MIN_PASSES:
            pass_t = 0.0
            for i, spec in enumerate(self.specs):
                with rss:
                    t0 = time.perf_counter()
                    got = self.run_query(ctx, spec)
                    d = time.perf_counter() - t0
                latencies.append(d)
                pass_t += d
                if not self.verify(ctx, i, got):
                    failed += 1
            passes.append(pass_t)
        return {
            "window": (start, time.time()),
            "runs": len(passes),
            "latencies": latencies,
            "run_s": median(passes),
            "tree_years_per_s": median([self.rows / p for p in passes]),
            "attempted": len(latencies),
            "failed": failed,
        }

    # -- traced breakdown --------------------------------------------------------
    def trace(self, ctx: Context) -> dict:
        """One pass over the query mix with build and execute spans."""
        tr = ctx.tracer
        per_fn: dict[str, list] = {f: [] for f in POP_FUNCS}
        with tr.span("traced.pass") as whole:
            for spec in self.specs:
                with tr.span(f"build.{spec['fn']}") as b:
                    q = self.build_query(ctx, spec)
                with tr.span(f"exec.{spec['fn']}") as e:
                    self.finish(q, spec)
                per_fn[spec["fn"]].append((b, e))
        files, nbytes = sink_layout(self.root)
        return {
            "traced": whole["end"] - whole["start"],
            "per_fn": per_fn,
            "files": files,
            "bytes": nbytes,
        }
