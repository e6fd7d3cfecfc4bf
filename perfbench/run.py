"""Benchmark entry point: one workload, one process, from the repo root.

    python3 perfbench/run.py --workload benchviz_logs --seed 1 --seconds 20 --trace 0

Prints the metrics by name and unit, then, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones from spans and Spark status-store counters. Each run
also writes a self-describing record under ``perfbench/_work/records``.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time

import workloads
from meter import Stopwatch, busy_steal, steal_share, trusted

WORKLOADS = ("benchviz_logs", "curation_sf001")
# extra request blocks allowed in place of ones that ran under too much
# steal (for passes, see reruns)
BLOCK_RERUNS = 1

# a traced run times this many untraced/traced pairs at most, so that it
# takes about as long as an untraced run
TRACED_PAIRS = 4
REQUEST_BLOCKS = 4  # the read path runs in blocks, each with its steal share
# Untimed passes after the checked warm-up, which leave the passes
# still getting faster. On a 4-vCPU machine, curation_sf001's next two
# passes each ran 5-20% faster than the one before; benchviz_logs'
# write passes kept getting faster for about ten passes (2.7 s down to
# 1.7 s), with a C1-only JIT too. A run cannot afford the plateau, so
# it takes the median of many passes at fixed positions on the curve.
EXTRA_WARMUPS = {"benchviz_logs": 2, "curation_sf001": 1}
# --seconds sizes the timed work (see work_size)
CURATION_PASS_S = 6.5  # one curation_sf001 pass per this many seconds
ETL_PASS_S = 4.0  # one benchviz_logs write pass per this many seconds
MIN_ETL_PASSES = 3
REQUESTS_PER_S = 5.0
MIN_REQUESTS = 100
DRIVER_MEMORY = "1g"


def reruns(n: int) -> int:
    """Extra passes allowed, in place of ones that ran under too much
    steal, for ``n`` timed passes: a quarter of them, at least one."""
    return max(1, n // 4)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def vm_hwm_mb(pid: int | str) -> float:
    """Resident-set high-water mark of a process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


class PeakRss:
    """Resident-set high-water marks of the driver JVM and of this
    process, per segment of the run. ``mark`` reads both marks and resets
    them (``/proc/<pid>/clear_refs``), so a segment's marks cover only
    that segment and the run's peak is the largest segment's."""

    def __init__(self, jvm_pid: int):
        self.pids = {"jvm_mb": jvm_pid, "python_mb": "self"}
        self.segments: list[dict] = []

    def mark(self, label: str) -> None:
        seg = {"label": label}
        for key, pid in self.pids.items():
            seg[key] = vm_hwm_mb(pid)
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        self.segments.append(seg)

    def peak_mb(self) -> float:
        return max(s["jvm_mb"] for s in self.segments) + max(
            s["python_mb"] for s in self.segments
        )


def source_sha1(root: str, pkg: str) -> str:
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(root, pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def code_identity(root: str) -> dict:
    """Git revision when the checkout is a repository, and always hashes
    of the package's and the benchmark's sources, so records of one
    program and benchmark version match."""
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"git_revision": rev, "code_sha1": source_sha1(root, "benchviz_spark"),
            "bench_sha1": source_sha1(root, "perfbench")}


class Context:
    """Run-wide state shared with the workloads."""

    def __init__(self, seed: int, root: str, work: str, cpus: int):
        self.seed = seed
        self.root, self.work, self.cpus = root, work, cpus
        self.spark = None
        self.attempted = 0
        self.failed = 0


def prepare_env(root: str, work: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout and let Python
    workers import the package; must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -UsePerfData: no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a small heap keeps the run small on a shared host and bounds how far
    # peak RSS swings with the collector's heap-growth decisions
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)


def start_session() -> tuple[dict, object]:
    """``get_spark`` through its first completed action. In a process
    that has no JVM yet, this launches one: a cold start."""
    from benchviz_spark.session import get_spark

    with Stopwatch() as sw:
        spark = get_spark("perfbench")
        spark.range(1).collect()
    return sw.as_dict(), spark


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def work_size(seconds: float) -> dict:
    """Timed work per run, fixed by ``--seconds`` alone so that every run
    of one setting does the same work, whatever the host's speed (steal
    re-runs aside, see ``run_passes``)."""
    return {
        "curation_passes": max(1, round(seconds / CURATION_PASS_S)),
        "etl_passes": max(MIN_ETL_PASSES, round(seconds / ETL_PASS_S)),
        "requests": max(MIN_REQUESTS, round(seconds * REQUESTS_PER_S)),
    }


def is_trusted(p: dict) -> bool:
    return p["timing"] is not None and trusted(p["timing"].get("steal_share"))


def until_trusted(n: int, reruns: int, one) -> list[dict]:
    """``one(i)`` for i = 0, 1, ... until ``n`` results, and then at most
    ``reruns`` more while fewer than ``n`` of them are trusted."""
    out: list[dict] = []
    while len(out) < n or (len(out) < n + reruns and sum(map(is_trusted, out)) < n):
        out.append(one(len(out)))
    return out


def counted(results: list[dict], n: int) -> list[dict]:
    """The trusted results that succeeded; when fewer than ``n`` are
    trusted, the ``n`` successful ones under the least steal."""
    ok = sorted((r for r in results if r["timing"] is not None),
                key=lambda r: r["timing"].get("steal_share") or 0.0)
    return ok[: max(n, sum(map(is_trusted, ok)))]


def run_passes(wl, n: int, tracer, rss: PeakRss) -> dict:
    """The timed passes. An untraced run re-runs a pass that ran under
    more hypervisor steal than ``meter.STEAL_MAX_SHARE``, at most
    ``reruns(n)`` times, until it has ``n`` trusted passes. A traced run
    makes at most ``TRACED_PAIRS`` pairs of passes: each pairs an
    untraced pass with a traced one, and it alternates which goes
    first, so that neither kind always runs on a warmer JVM. Each pass
    is its own ``rss`` segment."""
    passes: list[dict] = []
    traced: list[dict] = []

    def untraced(label: str) -> dict:
        passes.append(wl.timed_pass(label))
        rss.mark(label)
        return passes[-1]

    def traced_pass(label: str) -> None:
        traced.append(dict(wl.timed_pass(label, tracer), label=label))
        rss.mark(label)

    if tracer is None:
        until_trusted(n, reruns(n), lambda i: untraced(f"pass{i}"))
        return {"passes": passes, "traced": traced, "needed": n}

    n = min(n, TRACED_PAIRS)
    for i in range(n):
        pair = [lambda: untraced(f"pass{i}"), lambda: traced_pass(f"traced{i}")]
        for step in pair if i % 2 == 0 else pair[::-1]:
            step()
    return {"passes": passes, "traced": traced, "needed": n}


def run_requests(wl, n: int, tracer) -> list[dict]:
    """The read path: ``REQUEST_BLOCKS`` blocks of ``n / REQUEST_BLOCKS``
    requests each. A block under too much steal is replaced by a block of
    new requests, at most ``BLOCK_RERUNS`` times."""

    def block(i: int) -> dict:
        with Stopwatch() as sw:
            reqs = wl.requests(n // REQUEST_BLOCKS, f"req{i}", tracer)
        return {"timing": sw.as_dict(), "requests": reqs}

    return until_trusted(REQUEST_BLOCKS, BLOCK_RERUNS, block)


def end_to_end(result: dict, setup: dict, rss_mb: float) -> dict:
    walls = [p["timing"]["wall_s"] for p in counted(result["passes"], result["needed"])]
    if "blocks" in result:
        lat = [r["ms"] for b in counted(result["blocks"], REQUEST_BLOCKS)
               for r in b["requests"] if r["ms"] is not None]
    else:  # one curation pass, the op built and run, is one request
        lat = [w * 1e3 for w in walls]
    return {
        "setup_s": (setup["wall_s"], "s"),
        "pass_s": (statistics.median(walls) if walls else float("nan"), "s"),
        "req_p50_ms": (percentile(lat, 0.50) if lat else float("nan"), "ms"),
        "req_p90_ms": (percentile(lat, 0.90) if lat else float("nan"), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(result: dict, spans: list[dict], setup: dict, sources: dict):
    """Per-pass sums over the traced passes' spans, reported as medians
    across traced passes, plus the read path's per-request figures.
    Returns (metrics, per-pass rows)."""
    from spans import COUNTERS

    rows = []
    for p in result["traced"]:
        if p["timing"] is None:
            continue
        ss = [s for s in spans if s["parent"] == p["label"]]
        named = lambda *n: [s for s in ss if s["name"] in n]  # noqa: E731
        secs = lambda xs: sum(s["seconds"] for s in xs)  # noqa: E731
        if "serving" not in p:  # curation: the op's build and exec spans
            build, action = named("build"), named("exec")
        else:  # benchviz: the functions run_pipeline composes
            build = named("build_fact_table", "per_test_json")
            action = named("materialize", "write_serving_tree", "catalog_json")
        row = {
            "operators.build_s": secs(build),
            "operators.build_jobs": sum(s["jobs"] for s in build),
            "operators.build_stages": sum(s["stages"] for s in build),
            "caching.entries": p["entries"],
            "concurrency.ungrouped_jobs": sum(s["ungrouped_jobs"] for s in ss),
            "spark.exec_s": secs(action),
            **{f"spark.{c}": sum(s[c] for s in ss) for c in COUNTERS if c != "ungrouped_jobs"},
            "sources.build_s": secs(named("build_fact_table")),
            "sources.materialize_s": secs(named("materialize")),
            "sources.fact_rows": sum(s.get("fact_rows", 0) for s in ss),
            "serving.write_s": secs(named("per_test_json", "write_serving_tree")),
            "serving.files_written": p.get("serving", {}).get("files", 0),
            "serving.bytes_written": p.get("serving", {}).get("bytes", 0),
            "serving.catalog_s": secs(named("catalog_json")),
            "trace.pass_s": p["timing"]["wall_s"],
        }
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    req = [s for s in spans if s["parent"].startswith("req")]
    lookups = [s["seconds"] * 1e3 for s in req if s["name"] == "lookup"]
    compares = [s["seconds"] * 1e3 for s in req if s["name"] == "compare"]
    out.update({
        "session.start_s": setup["wall_s"],
        "sources.files": sources.get("files", 0),
        "sources.lines": sources.get("lines", 0),
        "pipeline.lookup_ms": statistics.median(lookups) if lookups else 0.0,
        "operators.compare_ms": statistics.median(compares) if compares else 0.0,
        "pipeline.request_jobs": sum(s["jobs"] for s in req) / len(req) if req else 0.0,
    })
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(
        p["timing"]["wall_s"] for p in counted(result["passes"], result["needed"])
    )
    return out, rows


LAYER_UNITS = {
    "_s": "s", "_ms": "ms", "_bytes": "bytes", "bytes_written": "bytes",
}


def unit_of(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def repeat_report(metrics: dict, rows_by_pass: list[dict], records: list[dict]) -> dict:
    """For every per-layer count: does it repeat exactly across this
    run's traced passes, and across earlier traced runs of the same
    program, workload and seed?"""
    out = {}
    for name, value in metrics.items():
        if unit_of(name) not in ("count", "bytes"):
            continue
        seen = {r.get(name) for r in rows_by_pass if name in r}
        prior = [r[name] for r in records if name in r]
        out[name] = {
            "passes": "exact" if len(seen) <= 1 else "varying",
            "runs": ("no earlier run" if not prior
                     else "exact" if all(v == value for v in prior) else "varying"),
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "benchviz_spark", "session.py")):
        print("perfbench: run from the repository root (benchviz_spark/ not found)",
              file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    work = os.path.join(here, "_work")
    cpus = len(os.sched_getaffinity(0))
    prepare_env(root, work, cpus)

    ctx = Context(args.seed, root, work, cpus)
    jiffies0, load0 = busy_steal(), loadavg()
    t_run = time.perf_counter()
    wl = (workloads.BenchvizLogs if args.workload == "benchviz_logs" else workloads.Curation)(ctx)
    phases: dict[str, float] = {}
    t = time.perf_counter()
    wl.prepare()  # input generation, outside setup_s
    phases["prepare"] = time.perf_counter() - t

    spark = None
    t = time.perf_counter()
    try:
        setup, spark = start_session()
        ctx.spark = spark
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        phases["setup"] = time.perf_counter() - t
        rss = PeakRss(spark._jvm.ProcessHandle.current().pid())
        rss.mark("setup")
        t = time.perf_counter()
        wl.warmup()
        for i in range(EXTRA_WARMUPS[args.workload]):
            wl.timed_pass(f"warmup{i + 1}")
        phases["warmup"] = time.perf_counter() - t
        rss.mark("warmup")
        t = time.perf_counter()
        size = work_size(args.seconds)
        benchviz = args.workload == "benchviz_logs"
        n = size["etl_passes" if benchviz else "curation_passes"]
        result = run_passes(wl, n, tracer, rss)
        if benchviz:  # the read path, against the fact the last pass cached
            result["blocks"] = run_requests(wl, size["requests"], tracer)
            rss.mark("requests")
        phases["timed"] = time.perf_counter() - t
        sources = {}
        if tracer is not None and benchviz:
            from benchviz_spark.sources.bench_logs import read_bench_lines

            lines = read_bench_lines(spark, wl.root)
            sources = {"files": lines.select("source_file").distinct().count(),
                       "lines": lines.count()}
        rss.mark("end")
        from benchviz_spark.operators.similarity import active_knn_profile

        knn_profile = active_knn_profile()
    finally:
        shutdown(spark)

    steal = steal_share(jiffies0, busy_steal())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "input_dir": os.path.relpath(wl.input_dir, root),
        "phases_s": phases,
        **code_identity(root),
        "knn_profile": knn_profile,
        "loadavg_start": load0,
        "loadavg_end": loadavg(),
        "steal_share_of_busy": steal,
        "wall_s": time.perf_counter() - t_run,
        "setup": setup,
        "rss_segments": rss.segments,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failed_ratio": ctx.failed / max(ctx.attempted, 1),
        "result": result,
    }
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    if tracer is None:
        metrics = end_to_end(result, setup, rss.peak_mb())
    else:
        values, rows = per_layer(result, tracer.spans, setup, sources)
        metrics = {k: (v, unit_of(k)) for k, v in values.items()}
        record["spans"] = tracer.spans
        earlier = []
        for prev_path in glob.glob(os.path.join(rec_dir, f"{args.workload}-trace1-*.json")):
            with open(prev_path) as fh:
                prev = json.load(fh)
            same = ("code_sha1", "bench_sha1", "seed")
            if all(prev.get(k) == record[k] for k in same):
                earlier.append(prev["metrics_flat"])
        record["repeat"] = repeat_report(values, rows, earlier)
    record["metrics_flat"] = {k: v for k, (v, _) in metrics.items()}
    path = os.path.join(
        rec_dir, f"{args.workload}-trace{args.trace}-seed{args.seed}-{int(time.time() * 1e3)}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for k, (v, unit) in metrics.items():
        flag = ""
        if tracer is not None and k in record["repeat"]:
            rep = record["repeat"][k]
            flag = f"  [passes: {rep['passes']}; runs: {rep['runs']}]"
        print(f"{k:32s} {v:>16.6g} {unit}{flag}")
    print(f"{'failed_ratio':32s} {record['failed_ratio']:>16.6g} ({ctx.failed}/{ctx.attempted})")
    print(f"record: {os.path.relpath(path, root)}  seed={args.seed} cpus={cpus} "
          f"loadavg={load0} steal_share={steal} knn_profile={knn_profile}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
