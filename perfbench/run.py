"""Crawl benchmark of record.

    python3 perfbench/run.py --workload wide --seed 1 --seconds 10 --trace 0

Runs the real ``run_crawl`` over seeded, generated Common-Crawl-style
inputs in a fresh child process (``worker.py``) with a wall-clock cap,
checks the outputs, and prints every metric by name and unit.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a
separate traced run that reports the per-layer metrics (see README.md).
Run it from the root of a checkout of the repository; it reads and
writes only under that directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402

# Round counts are capped by the 180 s a run may take (README.md);
# deep-durable compacts its seen state every round.
WORKLOADS = {
    "wide": {"input": "wide", "rounds": 2, "durable": False, "compact_every": 8},
    "deep-durable": {"input": "deep", "rounds": 2, "durable": True, "compact_every": 1},
    # the in-memory path past compact_every=8; fails at HEAD (README.md)
    "deep-memory": {"input": "deep", "rounds": 9, "durable": False, "compact_every": 8},
}
# The layers' self times plus stage-free time outside every layer should
# cover at least this share of a traced crawl (README.md).
ACCOUNTED_MIN = 0.9
CAP_S = 160  # wall-clock cap of the child process; a run must end within 180 s
GB = 1024 ** 3


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def mem_total() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 * GB


def pinned_env(work: str) -> tuple[dict, dict]:
    """Environment of the child: the library importable by the Python
    workers from any working directory, a heap that fits the box, and
    every scratch path inside the work directory."""
    nproc = len(os.sched_getaffinity(0))
    slots = max(1, nproc // 2)  # each task keeps a JVM thread and a Python worker busy
    heap_gb = max(1, min(3, int(mem_total() * 0.2 / GB)))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS", "TRIPWIRE_CRAWL_EXPLAIN")}
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files under /tmp from the launcher and driver JVMs
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
    })
    return env, {"nproc": nproc, "slots": slots, "heap": f"{heap_gb}g"}


CACHE_KEEP = 8  # input sets kept in the cache


def inputs_for(kind: str, seed: int) -> tuple[str, float]:
    """Generated inputs, cached per (input kind, seed); the least
    recently used sets beyond CACHE_KEEP are dropped."""
    import gen

    cache = os.path.join(ROOT, ".perfbench_cache")
    d = os.path.join(cache, f"{kind}-{seed}")
    if os.path.exists(os.path.join(d, "DONE")):
        os.utime(d)
        return d, 0.0
    if os.path.isdir(cache):
        old = sorted((os.path.join(cache, n) for n in os.listdir(cache)), key=os.path.getmtime)
        for stale in old[:max(0, len(old) - CACHE_KEEP + 1)]:
            shutil.rmtree(stale, ignore_errors=True)
    t0 = time.perf_counter()
    tmp = f"{d}.tmp{os.getpid()}"
    gen.write(gen.generate(kind, seed), tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, time.perf_counter() - t0


def reap_leftovers(limit_s: float = 10) -> None:
    """Kill and reap every process left from the child's tree.  This
    process is their subreaper (main), so the JVM and the Python daemon
    and workers land here once the child is gone, and none outlives the
    run or stays behind as a zombie."""
    deadline = time.time() + limit_s
    while time.time() < deadline:
        for pid in procs.children().get(os.getpid(), []):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                time.sleep(0.05)
        except ChildProcessError:
            return


def run_child(cfg: dict, env: dict, work: str) -> tuple[int | None, str]:
    """Run the worker with a wall-clock cap; kill its whole process
    group (JVM and Python workers too) on overrun.  Returns (exit code
    or None on timeout, tail of its stderr)."""
    err_path = os.path.join(work, "stderr.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
                             cwd=ROOT, env=env, stdout=sys.stdout, stderr=err,
                             start_new_session=True)
        try:
            code = p.wait(timeout=CAP_S)
        except subprocess.TimeoutExpired:
            code = None
        try:  # stray JVM and Python workers too
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        reap_leftovers()
    with open(err_path, errors="replace") as f:
        tail = f.read()[-20000:]
    return code, tail


def median(xs):
    return statistics.median(xs) if xs else 0.0


def declared_units() -> dict[str, dict[str, str]]:
    """Metric name -> unit, per trace mode, as BENCHMARK.json declares them."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"no BENCHMARK.json under {ROOT}")
    with open(path) as f:
        bench = json.load(f)
    return {mode: {m["name"]: m["unit"] for m in bench[key]}
            for mode, key in ((0, "end_to_end"), (1, "per_layer"))}


def report(name: str, value: float, n: int, out: dict, units: dict[str, str]) -> None:
    """Print a declared metric and add it to the result."""
    print(f"{name}: {value:.6g} {units[name]} (median of {n})")
    out[name] = {"value": value, "unit": units[name]}


def show(name: str, value: float, unit: str, n: int) -> None:
    """Print a metric that is not in the result (it carries no bound)."""
    print(f"{name}: {value:.6g} {unit} (median of {n})")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    if not os.path.isdir(os.path.join(ROOT, "tripwire_spark")):
        fail(f"no tripwire_spark package under {ROOT}; run from a checkout of the repository")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not importable")

    units = declared_units()[a.trace]
    spec = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    env, pins = pinned_env(work)
    inputs, gen_s = inputs_for(spec["input"], a.seed)
    print(f"env: nproc={pins['nproc']} slots={pins['slots']} heap={pins['heap']} "
          f"python={sys.version.split()[0]}")
    print(f"inputs: {spec['input']} seed={a.seed} "
          + (f"generated in {gen_s:.2f} s" if gen_s else "cached"))

    # One shuffle partition and one seen bucket per slot: the defaults (32
    # and 64) are sized for a cluster, and their per-task Python cost
    # alone makes a round take ~20 s at 2 slots (README.md).
    parts = pins["slots"]
    spec = {**spec, "shuffle_partitions": parts,
            "crawl_kwargs": {"bloom_buckets": parts, "compact_every": spec["compact_every"]}}
    print(f"pinned: shuffle_partitions={parts} bloom_buckets={parts} rounds={spec['rounds']} "
          f"compact_every={spec['crawl_kwargs']['compact_every']} durable={spec['durable']}")
    cfg = {"work": work, "inputs": inputs, "spec": spec, "slots": pins["slots"], "heap": pins["heap"],
           "seconds": a.seconds, "trace": a.trace}
    t0 = time.perf_counter()
    code, err_tail = run_child(cfg, env, work)
    run_wall = time.perf_counter() - t0

    progress = []
    if os.path.exists(os.path.join(work, "progress.jsonl")):
        with open(os.path.join(work, "progress.jsonl")) as f:
            progress = [json.loads(line) for line in f]
    done = [p for p in progress if not p.get("started")]
    attempted = sum(1 for p in progress if p.get("started"))
    failed = sum(1 for p in done if not p["ok"])
    result = None
    if code == 0 and os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    else:
        # every attempt that did not finish cleanly failed, at least one
        failed = max(1, attempted - (len(done) - failed))
        attempted = max(1, attempted)
        if code is None:
            why = f"hung past the {CAP_S} s cap"
        else:
            why = f"exited with code {code}"
        print(f"run failed: {why}; error class: "
              f"{'timeout' if code is None else error_class(err_tail)}")
        print("\n".join(err_tail.splitlines()[-5:]))

    metrics: dict = {}
    correct = result is not None and failed == 0
    if result is not None:
        crawls = result["crawls"]
        untraced = crawls[:1] if a.trace else crawls
        print(f"checks: {json.dumps(result['checks'])}")
        if a.trace == 0:
            # Bounded metrics count CPU seconds (JVM, Python workers and
            # the Spark driver; hypervisor steal left out): on a shared host the
            # wall clock of the same run swings by half (README.md).
            cpu = [c["cpu_s"] for c in untraced]
            n = len(cpu)
            report("crawl_cpu_s", median(cpu), n, metrics, units)
            report("fetched_pages_per_cpu_s", median([c["found"] / c["cpu_s"] for c in untraced]),
                   n, metrics, units)
            report("frontier_urls_per_cpu_s", median([c["frontier"] / c["cpu_s"] for c in untraced]),
                   n, metrics, units)
            report("peak_rss_mb", result["peak_rss_mb"], 1, metrics, units)
            report("setup_s", result["setup_cpu_s"], 1, metrics, units)
            wall = [c["crawl_s"] for c in untraced]
            show("crawl_s", median(wall), "s", n)
            show("fetched_pages_per_s", median([c["found"] / c["crawl_s"] for c in untraced]), "1/s", n)
            show("frontier_urls_per_s", median([c["frontier"] / c["crawl_s"] for c in untraced]), "1/s", n)
            show("setup_wall_s", result["setup_s"], "s", 1)
            if "resume" in result:
                r = result["resume"]
                print(f"resume_s: {r['resume_s']:.6g} s wall, {r['resume_cpu_s']:.6g} s CPU (n=1)")
                c = crawls[-1]
                print(f"ckpt_bytes_per_page: {c['ck_bytes'] / max(c['found'], 1):.6g} B/page")
        else:
            layers = result["layers"]
            for k in layers[0]:
                report(k, median([lay[k] for lay in layers]), len(layers), metrics, units)
            overhead = metrics["trace.crawl_s"]["value"] - untraced[0]["crawl_s"]
            report("trace.overhead_s", overhead, 1, metrics, units)
            r = result.get("resume")
            report("snapshots.resume_s", r["resume_s"] if r else 0.0, 1, metrics, units)
            c = crawls[-1]
            report("snapshots.ckpt_bytes_per_page", c["ck_bytes"] / max(c["found"], 1), 1, metrics, units)
            frac = metrics["trace.accounted_frac"]["value"]
            if frac < ACCOUNTED_MIN:
                print(f"WARNING: the layers account for only {frac:.3f} of the traced crawl "
                      f"(at least {ACCOUNTED_MIN} expected); see trace.unattributed_s")
        missing = sorted(set(units) - set(metrics))
        if missing:
            fail(f"declared metrics not measured: {', '.join(missing)}")
        print(f"failed_run_frac: {failed / attempted:.6g} ({failed} of {attempted} attempted)")
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):  # the traced run's spans outlive its work directory
        kept = os.path.join(ROOT, ".perfbench_work", f"spans-{a.workload}-{a.seed}.jsonl")
        os.replace(spans, kept)
        print(f"spans: {os.path.relpath(kept, ROOT)}")
    print(f"run wall: {run_wall:.2f} s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


def error_class(err: str) -> str:
    """The JVM error that killed the run, else the last Python exception."""
    for cls in ("java.lang.OutOfMemoryError", "java.lang.StackOverflowError"):
        if cls in err:
            return cls
    found = re.findall(r"^([A-Za-z_][\w.]*(?:Error|Exception))\b", err, re.M)
    return found[-1] if found else "unknown"


if __name__ == "__main__":
    main()
