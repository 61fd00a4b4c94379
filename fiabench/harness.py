"""Process plumbing for the benchmark: working directory, Spark session,
RSS sampling, latency summaries and the result line."""

from __future__ import annotations

import json
import math
import os
import re
import shlex
import shutil
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "foresttime_builder_spark"
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
#: driver heap (in local mode also the executors' heap), see configure_spark_env
DRIVER_MEMORY = "1g"


def require_program() -> None:
    """Exit non-zero unless the program's source sits beside the benchmark
    (the package is imported from the checkout, never from elsewhere)."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.stderr.write(f"fiabench: {PACKAGE}/ not found under {ROOT}\n")
        sys.exit(2)
    sys.path.insert(0, ROOT)
    import foresttime_builder_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        sys.stderr.write(f"fiabench: {PACKAGE} imported from outside {ROOT}\n")
        sys.exit(2)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """Per-invocation working space under ``<checkout>/.bench_work``; every
    temporary file of Spark, its Python workers and DuckDB lands here."""

    def __init__(self, tag: str):
        self.base = os.path.join(ROOT, ".bench_work")
        self.path = os.path.join(self.base, f"{tag}-{os.getpid()}")
        self.traces = os.path.join(self.base, "traces")
        for d in (self.path, self.traces):
            os.makedirs(d, exist_ok=True)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_spark_env(work: WorkDir, event_log_dir: str | None) -> None:
    """Point the JVM, Spark and Python workers at the work directory (set
    before the first session starts the JVM)."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    # get_spark reads its heap size from here (default 8g).  At the product's
    # 8g the heap grows whenever G1 chooses to, and ten seeds measured
    # peak_rss_mb at 4.0-4.8 GB with a quartile spread of 0.21-0.29, wider
    # than any bound a metric may have; at 1g ten seeds read about 1.5 GB
    # with spreads of 0.01-0.06.  Set, not defaulted, so no outside value
    # changes what is measured.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    confs = {
        # no hsperfdata under /tmp: the JVM writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell"
    )


def start_spark(data_bytes: int):
    """The product's session factory, sized to the generated input."""
    from foresttime_builder_spark.session import get_spark

    n = cores()
    spark = get_spark(
        app_name="fiabench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        data_bytes=data_bytes,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=10)
    reap_children()


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, rest = stat.rsplit(")", 1)
        table[int(name)] = (int(rest.split()[1]), head.split("(", 1)[1])
    return table


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = _process_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for child, (ppid, _comm) in table.items():
        kids.setdefault(ppid, []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def rss_processes(pid: int) -> list[int]:
    """Descendants whose memory counts.  A child of the JVM still running
    the java binary is the JVM forking to spawn a helper (the parquet
    committer runs ``chmod``); until it execs it shows the JVM's pages,
    which would count twice."""
    table = _process_table()
    out = []
    for p in descendants(pid, table):
        exe, parent_exe = _exe(p), _exe(table[p][0])
        if exe and exe == parent_exe and exe.endswith("/java"):
            continue
        out.append(p)
    return out


def reap_children() -> None:
    """Terminate and wait for any process this one started that is still
    alive (Python workers outliving the JVM, a stray gateway)."""
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    for pid in left:
        while time.time() < deadline:
            try:
                done, _status = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our direct child
                if not os.path.exists(f"/proc/{pid}"):
                    break
                done = 0
            if done:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


#: seconds between RSS samples, and between rescans of the process tree
RSS_INTERVAL_S = 0.05
RSS_RESCAN_S = 1.0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from ``/proc`` while active.  The
    process tree is rescanned every ``RSS_RESCAN_S``; in between only the
    known processes are read, to keep the sampler's own cost small."""

    def __init__(self):
        self.peak_kb = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        pids: list[int] = []
        scanned = 0.0
        while not self._stop.is_set():
            if not self._active.wait(timeout=0.2):
                continue
            now = time.monotonic()
            if now - scanned >= RSS_RESCAN_S:
                pids, scanned = rss_processes(me), now
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            time.sleep(RSS_INTERVAL_S)

    def __enter__(self):
        self._active.set()
        return self

    def __exit__(self, *exc):
        self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._active.clear()
        self._thread.join(timeout=5)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-largest sample.  With ten or fewer samples
    no percentile qualifies and the maximum is returned as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the result object as the last line of standard output."""
    for name, m in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise ValueError(f"metric {name} is not a finite number: {m['value']!r}")
    sys.stdout.flush()
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }), flush=True)
