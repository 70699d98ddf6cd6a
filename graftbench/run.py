#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, in a fresh JVM.

Usage (from the root of the repository):

    python3 graftbench/run.py --workload letter-etl --seed 1 --seconds 5 --trace 0
    python3 graftbench/run.py --remake-expected

A run builds the engine and the benchmark from source (once per source
fingerprint, into graftbench/.build), starts one JVM over the fixed sf0.1
tables, times set-up, a first pass and repeated warm passes of the
workload's query mix, then checks every query output against DuckDB running
the engine's own oracle SQL. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the run's spans
to graftbench/.trace/<workload>.json. See graftbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = HERE / ".build"
RUNS_DIR = HERE / ".runs"
EXPECTED_DIR = HERE / ".expected"
TRACE_DIR = HERE / ".trace"

WORKLOADS = ("letter-etl", "corpus-dedup", "stream-replay")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Fixed JVM shape, so peak RSS and GC compare like with like between runs.
JVM_FLAGS = ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
             "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
# What spark-submit adds for Spark 4 on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# Environment that would move the JVM's flags or Spark's scratch directories.
DROPPED_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_LOCAL_DIRS")

JVM_TIMEOUT_S = 150


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- locating

def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(str(Path(submit).resolve().parent.parent))
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if list(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BenchError("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def data_dir():
    """The fixed sf0.1 tables, as TESTDATA.md lists them."""
    doc = ROOT / "TESTDATA.md"
    if not doc.exists():
        raise BenchError("TESTDATA.md not found: not a checkout of the repository")
    for line in doc.read_text().splitlines():
        cells = [c.strip().strip("`") for c in line.split("|")]
        if len(cells) > 2 and cells[1] == "0.1":
            d = Path(cells[2])
            if all((d / f"{t}.parquet").exists() for t in TABLES):
                return d
            raise BenchError(f"sf0.1 tables missing under {d}")
    raise BenchError("TESTDATA.md lists no sf0.1 directory")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


# ---------------------------------------------------------------- building

def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BenchError("engine sources (src/main/scala) not found")
    return engine + sorted((HERE / "src").glob("*.scala"))


def build(jars):
    """Compile engine + benchmark with the distribution's own scalac, once per
    source fingerprint. Returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    target = BUILD_DIR / h.hexdigest()[:16]
    classes = target / "classes"
    if (target / "OK").exists():
        return classes
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    classes.mkdir(parents=True)
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    cp = f"{jars}/*"
    proc = subprocess.run(
        [java(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", cp] + [str(f) for f in files],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(BUILD_DIR, ignore_errors=True)
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    (target / "OK").write_text(f"{time.time() - t0:.1f}\n")
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


# ---------------------------------------------------------------- DuckDB oracle

def input_fingerprint(data):
    return json.dumps([(t, os.stat(data / f"{t}.parquet").st_size,
                        os.stat(data / f"{t}.parquet").st_mtime_ns) for t in TABLES])


class Expected:
    """DuckDB results of the engine's oracle SQL, cached per (SQL text, input
    fingerprint) under graftbench/.expected."""

    def __init__(self, data):
        self.data = data
        self.fingerprint = input_fingerprint(data)
        self.con = None

    def key(self, sql):
        return hashlib.sha256((sql + "\0" + self.fingerprint).encode()).hexdigest()

    def connect(self):
        if self.con is None:
            import duckdb
            EXPECTED_DIR.mkdir(parents=True, exist_ok=True)
            self.con = duckdb.connect()
            self.con.execute(f"SET threads={os.cpu_count() or 4}")
            self.con.execute(f"SET temp_directory='{EXPECTED_DIR / 'duckdb_tmp'}'")
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        return self.con

    def get(self, sql):
        path = EXPECTED_DIR / f"{self.key(sql)}.pkl"
        if path.exists():
            with open(path, "rb") as f:
                return pickle.load(f)
        return self.compute(sql, path)

    def compute(self, sql, path):
        df = self.connect().execute(sql).df()
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        path.with_suffix(".sql").write_text(sql)
        os.replace(tmp, path)
        return df

    def remake(self):
        """Recompute every cached entry from its stored SQL, under the current
        input fingerprint, and drop the old results."""
        sqls = {p.read_text() for p in EXPECTED_DIR.glob("*.sql")}
        shutil.rmtree(EXPECTED_DIR, ignore_errors=True)
        for sql in sorted(sqls):
            t0 = time.time()
            self.compute(sql, EXPECTED_DIR / f"{self.key(sql)}.pkl")
            log(f"expected result {self.key(sql)[:12]} in {time.time() - t0:.2f} s")
        return len(sqls)


def oracle_rules():
    """`norm` and `cells_equal` of scripts/check_oracle.py, the repository's
    own comparison rules."""
    sys.path.insert(0, str(ROOT / "scripts"))
    try:
        import check_oracle
    finally:
        sys.path.pop(0)
    return check_oracle.norm, check_oracle.cells_equal


def compare(out_dir, expected):
    """None when the parquet output under `out_dir` equals `expected` in column
    names, row count and every cell (columns sorted by name, rows in emitted
    order, no float tolerance); else what differs."""
    import numpy as np
    import pandas as pd
    norm, cells_equal = oracle_rules()
    files = sorted(glob.glob(f"{out_dir}/*.parquet"))
    if not files:
        return "no output written"
    got = norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
    want = norm(expected)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        a = got[c].to_numpy(dtype=object)
        b = want[c].to_numpy(dtype=object)
        try:
            eq = np.asarray(a == b, dtype=bool)
            suspects = np.flatnonzero(~eq) if eq.shape == a.shape else range(len(a))
        except (TypeError, ValueError):
            suspects = range(len(a))
        # check_oracle's cell rule decides every cell that `==` did not pass
        for i in suspects:
            if not cells_equal(a[i], b[i]):
                return f"row {i} column {c}: {a[i]!r} != {b[i]!r}"
    return None


# ---------------------------------------------------------------- running

def run_jvm(args, jars, classes, data, run_dir):
    """Start the measured JVM; returns (setup seconds, result dict)."""
    for d in ("assets", "warehouse", "local", "tmp", "out"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k not in DROPPED_ENV}
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    trace_file = TRACE_DIR / f"{args.workload}.json"
    cmd = ([java()] + JVM_FLAGS + opens +
           [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", f"{classes}:{jars}/*",
            "graft.bench.GraftBench", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), str(data), str(run_dir), str(trace_file)])
    stderr = open(run_dir / "jvm.log", "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=stderr, text=True,
                            cwd=run_dir, env=env)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    setup = None
    lines = []
    try:
        for line in proc.stdout:
            if setup is None and line.strip() == "READY":
                setup = time.perf_counter() - t0
            else:
                lines.append(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        stderr.close()
    if proc.returncode != 0 or setup is None or not lines:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise BenchError(f"JVM exited with {proc.returncode} (killed after "
                         f"{JVM_TIMEOUT_S} s if negative):\n{tail}")
    return setup, json.loads(lines[-1])


def check_outputs(run_dir, data):
    """Compare each query's output of the last warm pass with DuckDB. A query
    of the mix without an output failed its comparison too.
    Returns (comparisons, mismatches)."""
    oracle = json.loads((run_dir / "oracle.json").read_text())
    expected = Expected(data)
    bad = []
    for key in sorted(oracle):
        out = run_dir / "out" / key
        problem = compare(out, expected.get(oracle[key])) if out.exists() else "no output"
        if problem:
            bad.append(f"{key}: {problem}")
    return len(oracle), bad


def metric_specs(kind):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[kind]]


def main():
    # a terminated runner unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--remake-expected", action="store_true",
                    help="recompute every cached DuckDB result and exit")
    args = ap.parse_args()
    try:
        data = data_dir()
        if args.remake_expected:
            log(f"re-made {Expected(data).remake()} expected results")
            return 0
        if not args.workload:
            ap.error("--workload is required")
        kind = "per_layer" if args.trace else "end_to_end"
        specs = metric_specs(kind)
        jars = spark_jars()
        classes = build(jars)
        shutil.rmtree(RUNS_DIR, ignore_errors=True)       # leftovers of a killed run
        run_dir = RUNS_DIR / f"{args.workload}-{args.seed}-{os.getpid()}"
        try:
            t0 = time.monotonic()
            setup, res = run_jvm(args, jars, classes, data, run_dir)
            t1 = time.monotonic()
            checked, mismatches = check_outputs(run_dir, data)
            log(f"jvm {t1 - t0:.1f} s, output check {time.monotonic() - t1:.1f} s")
        finally:
            shutil.rmtree(RUNS_DIR, ignore_errors=True)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    log(f"steal first/warm {res['steal_s']} warm passes {res['warm_passes_s']}")
    log("outside the passes: " + " ".join(f"{k} {v:.1f} s" for k, v in res["untimed_s"].items()))
    for op, secs in res["op_seconds"].items():
        log(f"{op:48s} " + " ".join(f"{x:6.2f}" for x in secs))
    failures = res["failures"] + mismatches
    for f in failures:
        log(f"failed: {f}")
    values = {
        "setup_s": setup,
        "first_pass_s": res["first_pass_s"],
        "warm_pass_s": res["warm_pass_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if args.trace:
        values = res["per_layer"]
    missing = [n for n, _ in specs if n not in values]
    if missing:
        log(f"error: metrics not measured: {missing}")
        return 2
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"] + checked,
        "failed": len(failures),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in specs},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
