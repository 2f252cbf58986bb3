#!/usr/bin/env python3
"""Repository benchmark: named workloads through the public query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process on ``local[<cpus / 2>]`` with one closed-loop client: the
next query is sent only when the previous one has finished. Half the
CPUs run tasks, so that the driver, the JVM's GC and JIT threads and the
Python workers do not queue behind them: on a shared host, more busy
threads than CPUs measure the scheduler, not the program. A timed query is
the registry call (which runs every eager job the plan build needs)
plus a ``noop`` write. Every invocation:

1. reads the seed-42 test tables (TESTDATA.md) from
   ``perfbench/data/sf<N>/`` (byte copies; ``PERFBENCH_DATA_ROOT`` names
   another directory with the same ``sf<N>/`` layout); staging, Spark
   local dirs, Derby home and temp files go to a fresh root under
   ``.perfbench/`` that is removed at exit;
2. sets the program up once: a session from the program's ``get_spark``
   (which launches the JVM), the input warm-up, and one untimed pass
   over every workload query whose results are checked against the
   registry's DuckDB oracle, then one untimed pass run as in step 3;
   these two passes are the JIT and Python-worker warm-up. ``setup_s``
   is the time from the start of this script to the end of the second;
3. repeats the whole query list for ``--seconds`` (at least once; a
   pass starts only if it is expected to end in time), each pass in a
   fresh session (so every pass rebuilds the session-shared artifacts
   inside its timed wall) and in an order drawn from ``--seed``, and
   reports the median pass wall (``run_s``) and the median query
   latency (``query_p50_s``).

With ``--trace 1`` the first half of the time runs untraced, then the
session restarts with the Spark event log on and the second half runs
traced (see ``perfbench/trace.py``). The per-layer metrics are printed,
and spans plus a per-query table of build, plan and exec self times are
written to ``.perfbench/traces/``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records the
host, versions, seed and data.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

PACKAGE = "bigdata_deepfakeanalysis_spark"
DATA_ROOT = Path(os.environ.get("PERFBENCH_DATA_ROOT", Path(__file__).resolve().parent / "data"))
MB = 1024 * 1024


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / MB


class Bench:
    def __init__(self, wl: Workload, seed: int, work: Path, sf_dir: str):
        self.wl = wl
        self.work = work
        self.rng = random.Random(seed)
        self.sf_dir = sf_dir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.session_start_s = 0.0
        self.warm_s = 0.0
        self.driver_memory = "unset"
        self.jvm_rss_mb = 0.0

    # -- set-up ---------------------------------------------------------
    def new_session(self):
        from bigdata_deepfakeanalysis_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        return time.perf_counter() - t0

    def warm_inputs(self) -> float:
        """Input warm-up: read every table file once so the OS page cache
        holds it (queries scan parquet), then run one control job on the
        new session."""
        from bigdata_deepfakeanalysis_spark.catalog import TABLES

        t0 = time.perf_counter()
        for t in TABLES:
            Path(self.sf_dir, f"{t}.parquet").read_bytes()
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def setup(self, queries, oracle) -> float:
        """Session start (JVM launch), input warm-up, the checked pass and
        one untimed pass as the timed passes run them (the first such
        pass is up to half again slower than the ones after it); returns
        the seconds since this script started."""
        self.session_start_s = self.new_session()
        self.driver_memory = self.spark.sparkContext.getConf().get("spark.driver.memory", "unset")
        self.warm_s = self.warm_inputs()
        t0 = time.perf_counter()
        for line in self.check_pass(queries, oracle):
            log(f"CHECK FAILED {line}")
        t1 = time.perf_counter()
        warm_walls, _, _ = self.timed_passes(queries, 0)
        log(
            f"session start {self.session_start_s:.3f} s; input warm-up {self.warm_s:.3f} s;"
            f" check pass {t1 - t0:.3f} s; warm-up pass {warm_walls[0]:.3f} s"
        )
        return time.perf_counter() - T_START

    # -- queries --------------------------------------------------------
    def order(self) -> list[str]:
        names = list(self.wl.queries)
        self.rng.shuffle(names)
        return names

    def check_pass(self, queries, oracle) -> list[str]:
        """Run each query once, untimed, and compare with its oracle."""
        bad = []
        for name in self.order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = queries[name](self.spark, self.sf_dir).toPandas()
                t1 = time.perf_counter()
                why = oracle.mismatch(name, got)
                log(f"check {name}: query {t1 - t0:.3f} s, oracle {time.perf_counter() - t1:.3f} s")
            except Exception as e:  # a failing query is counted, never fatal
                why = f"{type(e).__name__}: {str(e)[:300]}"
            if why is not None:
                self.failed += 1
                bad.append(f"{name}: {why}")
        return bad

    def run_one(self, fn) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            self.failed += 1
            log(traceback.format_exc(limit=3))
            return None
        return time.perf_counter() - t0

    def timed_passes(self, queries, seconds: float, tracer=None):
        """Closed-loop passes over the query list. Each pass runs in a
        fresh session, started outside its timed wall, so every pass
        builds the session-shared artifacts its queries need. After the
        first, a pass starts only if it is expected to end within
        ``seconds`` of the start, judging by the pass before it. Returns
        (pass walls, latencies by query, staging growth per pass)."""
        walls, lat, growth = [], {n: [] for n in self.wl.queries}, []
        staging = self.work / "staging"
        start = last = time.perf_counter()
        while not walls or 2 * time.perf_counter() - last - start <= seconds:
            last = time.perf_counter()
            self.new_session()
            if tracer is not None:
                tracer.bind(self.spark)
            before = dir_mb(staging)
            t0 = time.perf_counter()
            for name in self.order():
                if tracer is None:
                    dt = self.run_one(queries[name])
                else:
                    dt = self.run_traced(tracer, len(walls), name, queries[name])
                if dt is not None:
                    lat[name].append(dt)
            walls.append(time.perf_counter() - t0)
            growth.append(dir_mb(staging) - before)
        return walls, lat, growth

    def run_traced(self, tracer, n_pass, name, fn) -> float | None:
        tag = f"{self.wl.name}#{n_pass}#{name}"
        spark = self.spark
        with tracer.span("control", f"{tag}#control", query=name, n_pass=n_pass):
            spark.range(1).write.format("noop").mode("overwrite").save()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("query", None, query=name, n_pass=n_pass):
                with tracer.span("build", f"{tag}#build"):
                    df = fn(spark, self.sf_dir)
                with tracer.span("plan", f"{tag}#plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec", f"{tag}#exec"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:
            self.failed += 1
            log(traceback.format_exc(limit=3))
            return None
        return time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def cpu_ticks() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by other guests (steal)
    between two ``cpu_ticks`` readings: co-tenant load the timings
    include."""
    d = [b - a for a, b in zip(before, after)]
    return 100 * d[7] / max(sum(d[:8]), 1)


def digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def host_record(args, wl: Workload, sf_dir: Path, measured: dict) -> dict:
    import pyspark

    try:
        # the ceiling keeps git from reporting an enclosing repository
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        ).stdout.strip()
    except OSError:
        commit = ""
    return {
        "host": {
            "cpus": len(os.sched_getaffinity(0)),
            "task_slots": task_slots(),
            "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            **measured,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "seed": args.seed,
            "sf_dir": str(sf_dir),
            "data_digest": digest(sf_dir.glob("*.parquet")),
            "commit": commit or "not a git checkout",
            # tells runs of different code apart where no commit is known
            "source_digest": digest(
                [*(ROOT / PACKAGE).rglob("*.py"), *Path(__file__).parent.glob("*.py")]
            ),
            "workload": wl.name,
            "queries": list(wl.queries),
        }
    }


def task_slots() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def layer_metrics(bench, tracer, ev, traced_walls, untraced_walls, growth) -> dict:
    n = max(len(traced_walls), 1)
    ph = ev["per_phase"]
    g = lambda phase, key: ph.get(phase, {}).get(key, 0.0)  # noqa: E731
    selfs = tracer.self_times()
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(selfs[s["id"]])
    mats = [s for s in tracer.spans if s["name"] == "materialize"]
    misses = [s for s in mats if ev["group_jobs"].get(s["group"], 0) > 0]
    # boundary totals cover every phase of the queries (build, its
    # materialize calls, plan, exec, streaming micro-batches), not the
    # control job or set-up
    query_ph = [v for k, v in ph.items() if k not in ("control", "other")]
    tot = lambda key: sum(p.get(key, 0.0) for p in query_ph)  # noqa: E731
    return {
        "session.start_s": bench.session_start_s,
        "catalog.warm_s": bench.warm_s,
        "catalog.input_rows": tot("input_rows") / n,
        "build.s": sum(by_name.get("build", ())) / n,
        "build.jobs": (g("build", "jobs") + g("materialize", "jobs")) / n,
        "plan.s": sum(by_name.get("plan", ())) / n,
        "exec.s": sum(by_name.get("exec", ())) / n,
        "exec.jobs": g("exec", "jobs") / n,
        "exec.stages": g("exec", "stages") / n,
        "exec.tasks": g("exec", "tasks") / n,
        "exec.task_cpu_s": g("exec", "cpu_ns") / 1e9 / n,
        "exec.gc_s": g("exec", "gc_ms") / 1e3 / n,
        "exec.sched_delay_s": g("exec", "sched_delay_ms") / 1e3 / n,
        "control.noop_s": tr.median0(by_name.get("control", ())),
        "shuffle.write_mb": tot("shuffle_write_b") / MB / n,
        "shuffle.read_mb": tot("shuffle_read_b") / MB / n,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3 / n,
        "spill.mb": tot("spill_b") / MB / n,
        "materialize.calls": len(mats) / n,
        "materialize.hit_ratio": 1 - len(misses) / len(mats) if mats else 0.0,
        "materialize.build_s": sum(s["end"] - s["start"] for s in misses) / n,
        "pyworker.run_s": tot("py_run_ms") / 1e3 / n,
        "pyworker.boot_s": tot("py_boot_ms") / 1e3 / n,
        "pyworker.sent_mb": tot("py_sent_b") / MB / n,
        "stream.batches": len(ev["batch_ms"]) / n,
        "stream.batch_p50_ms": tr.median0(ev["batch_ms"]),
        "io.output_rows": tot("output_rows") / n,
        "io.staging_mb": statistics.median(growth),
        "process.jvm_peak_rss_mb": bench.jvm_rss_mb,
        "process.py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(untraced_walls),
    }


def per_query_table(tracer, untraced_lat) -> list[dict]:
    selfs = tracer.self_times()
    rows = {}
    for s in tracer.spans:
        if s["name"] in ("build", "plan", "exec"):
            q = tracer.spans[s["parent"]]["query"]
            rows.setdefault(q, {"build": [], "plan": [], "exec": []})[s["name"]].append(selfs[s["id"]])
    return [
        {
            "query": q,
            "untraced_wall_s": tr.median0(untraced_lat.get(q, ())),
            **{k: tr.median0(v) for k, v in parts.items()},
        }
        for q, parts in sorted(rows.items())
    ]


def run(args, wl: Workload, sf_dir: Path, work: Path) -> dict:
    from bigdata_deepfakeanalysis_spark.registry import all_oracles, all_queries

    from perfbench.check import Oracle

    queries = all_queries()
    missing = [n for n in wl.queries if n not in queries]
    if missing:
        raise SystemExit(f"queries not in the registry: {missing}")
    bench = Bench(wl, args.seed, work, str(sf_dir))
    oracle = Oracle(bench.sf_dir, all_oracles())
    try:
        setup_s = bench.setup(queries, oracle)
    finally:
        oracle.close()

    budget = args.seconds / 2 if args.trace else args.seconds
    ticks = cpu_ticks()
    walls, lat, _ = bench.timed_passes(queries, budget)
    measured = {
        "driver_memory": bench.driver_memory,
        "steal_pct_timed": round(steal_pct(ticks, cpu_ticks()), 1),
    }
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    if not args.trace:
        samples = [x for xs in lat.values() for x in xs]
        values = {
            "setup_s": setup_s,
            "run_s": statistics.median(walls),
            "query_p50_s": statistics.median(samples) if samples else 0.0,
        }
        log(f"passes {[round(x, 3) for x in walls]} s; {len(samples)} query samples")
        log(" ".join(f"{q}={[round(x, 2) for x in xs]}" for q, xs in lat.items()))
        result["metrics"] = {k: metric(values[k], u) for k, u in metric_units()[0].items()}
    else:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        jvm_sys = bench.spark._jvm.java.lang.System
        jvm_sys.setProperty("spark.eventLog.enabled", "true")
        jvm_sys.setProperty("spark.eventLog.dir", log_dir.as_uri())
        jvm_sys.setProperty("spark.eventLog.compress", "false")
        tracer = tr.Tracer()
        tracer.install_materialize_wrappers()
        try:
            t_walls, _, growth = bench.timed_passes(queries, args.seconds / 2, tracer)
        finally:
            tracer.remove_materialize_wrappers()
        bench.jvm_rss_mb = jvm_peak_rss_mb(bench.spark)
        bench.spark.stop()
        bench.spark = None
        ev = tr.parse_event_logs(log_dir)
        values = layer_metrics(bench, tracer, ev, t_walls, walls, growth)
        table = per_query_table(tracer, lat)
        out = ROOT / ".perfbench" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        dest = out / f"{wl.name}-seed{args.seed}.json"
        dest.write_text(
            json.dumps(
                {"metrics": values, "queries": table, "spans": tracer.spans, "events": ev},
                indent=1,
            )
        )
        log(f"trace written to {dest.relative_to(ROOT)}")
        log(f"{'query':40s} {'untraced':>9s} {'build':>8s} {'plan':>8s} {'exec':>8s}")
        for r in table:
            log(
                f"{r['query']:40s} {r['untraced_wall_s']:9.3f} {r['build']:8.3f}"
                f" {r['plan']:8.3f} {r['exec']:8.3f}"
            )
        result["metrics"] = {k: metric(values[k], u) for k, u in metric_units()[1].items()}
    result.update(
        correct=bench.failed == 0, attempted=bench.attempted, failed=bench.failed
    )
    return result, measured


def stop_jvm() -> None:
    """Stop the session and the JVM this process launched, and wait for
    the JVM to exit: it exits when its stdin from this process closes,
    and is killed if it has not within 60 s. The JVM is waited for even
    when stopping the session fails."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        if gw is not None:
            proc = gw.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke",
        action="store_true",
        help="sf0.001 and the first two queries of the workload (self-test)",
    )
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its fresh root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / PACKAGE / "registry.py").is_file():
        log(f"{PACKAGE}/ not found under {ROOT}: run from a checkout of the repository")
        return 2
    wl = WORKLOADS[args.workload]
    if args.smoke:
        wl = dataclasses.replace(wl, sf=0.001, queries=wl.queries[:2])
    sf_dir = DATA_ROOT / wl.sf_name
    if not (sf_dir / "lineitem.parquet").is_file():
        log(f"input tables not found under {sf_dir}")
        return 2

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("staging", "local", "tmp", "derby", "warehouse"):
        (work / d).mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(task_slots()),
        SPARK_GRAFT_STAGING_DIR=str(work / "staging"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}"
            f" --conf 'spark.driver.extraJavaOptions={java_opts}'"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    try:
        result, measured = run(args, wl, sf_dir, work)
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(host_record(args, wl, sf_dir, measured)))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
