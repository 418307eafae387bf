"""One benchmark run, executed in a child process of ``run.py``.

Usage (normally only through run.py):
    python3 perfbench/worker.py '<json config>'

Sets up a Spark session, times ``run_crawl`` repeatedly for the
measurement window, runs the correctness checks, and writes its result
as JSON to ``<work>/result.json``.
Every crawl is logged to ``<work>/progress.jsonl`` when it starts and
when it passes or fails its checks, so the parent can still count it when
this process raises, dies or hangs.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time

import gen
import procs

CONFIG = json.loads(sys.argv[1])
WORK = CONFIG["work"]
SPEC = CONFIG["spec"]
DEFAULT_BUDGET = 3  # run_crawl's default; every generated host has its own


def say(*parts) -> None:
    print(*parts, flush=True)


def progress(op: str, ok: bool, **extra) -> None:
    with open(os.path.join(WORK, "progress.jsonl"), "a") as f:
        f.write(json.dumps({"op": op, "ok": ok, **extra}) + "\n")


# -- memory and CPU time ------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process, the JVM and the Python workers.  The kernel leaves
    out time stolen by the hypervisor, so on a shared host this holds
    still where wall time does not."""
    total = 0
    for pid in [os.getpid(), *procs.descendants(procs.children(), os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PeakRss(threading.Thread):
    """Largest sum of VmHWM over the live JVM (this process's child) and
    Python daemon and workers, sampled every 0.2 s.  Other descendants
    are left out: a process the JVM spawns shares its memory until it
    execs, and would count the JVM twice."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.stop = threading.Event()

    def sample(self) -> None:
        kids = procs.children()
        jvm = set(kids.get(os.getpid(), []))
        pids = [p for p in procs.descendants(kids, os.getpid())
                if p in jvm or _comm(p).startswith("python")]
        self.peak_kb = max(self.peak_kb, sum(_hwm_kb(p) for p in pids))

    def run(self) -> None:
        while not self.stop.wait(0.2):
            self.sample()


# -- spark ---------------------------------------------------------------------


def start_spark(trace: bool):
    from tripwire_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the whole heap committed up front: peak RSS then follows the
        # work done, not how far G1 chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                                         f"-Xms{CONFIG['heap']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=CONFIG["slots"],
                     shuffle_partitions=SPEC["shuffle_partitions"], extra_conf=conf)


def stop_spark(spark) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        pass
    spark.stop()


# -- crawl ---------------------------------------------------------------------


def load_inputs(spark):
    d = CONFIG["inputs"]
    return tuple(spark.read.parquet(os.path.join(d, f"{n}.parquet")) for n in ("pages", "seeds", "robots"))


def crawl(spark, tables, rounds: int, ck: str | None, resume: bool = False):
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = tables
    c0, t0 = tree_cpu_s(), time.perf_counter()
    st = run_crawl(spark, seeds, pages, robots, gen.BLACKLIST, max_rounds=rounds,
                   checkpoint_dir=ck, resume=resume, **SPEC["crawl_kwargs"])
    n_frontier = st.frontier.count()
    return st, n_frontier, time.perf_counter() - t0, tree_cpu_s() - c0


def rollback_to(ck: str, round_no: int, spark) -> None:
    """Drop every snapshot committed after ``round_no`` — the state a
    crawl killed right after that round's commits leaves on disk."""
    from tripwire_spark.sources.snapshots import SnapshotTable

    for name in sorted(os.listdir(ck)):
        if not os.path.isdir(os.path.join(ck, name)):
            continue
        t = SnapshotTable(spark, ck, name)
        keep = [s["id"] for s in t.snapshots() if int(s["summary"].get("round", 0)) <= round_no]
        if keep:
            t.rollback(keep[-1])


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def main() -> None:
    from pyspark.sql import functions as F

    import checks

    trace = bool(CONFIG["trace"])
    rounds, durable = SPEC["rounds"], SPEC["durable"]
    rss = PeakRss()
    rss.start()

    # Set-up: session start (JVM launch included) and the input tables.
    # The timed crawl is the session's first, as in a crawl submitted as
    # its own Spark job: it starts the Python workers itself.
    c0, t0 = tree_cpu_s(), time.perf_counter()
    spark = start_spark(trace)
    tables = load_inputs(spark)
    pages, seeds, robots = tables
    c1, t1 = tree_cpu_s(), time.perf_counter()
    say(f"setup: {t1 - t0:.2f} s wall, {c1 - c0:.2f} s CPU")

    result = {"setup_s": t1 - t0, "setup_cpu_s": c1 - c0, "crawls": [], "checks": {}}
    digest = None

    def timed(i: int, check: bool, tracer=None):
        nonlocal digest
        ck = os.path.join(WORK, f"ck{i}") if durable else None
        progress("crawl", False, started=True)
        with tracer.root(i) if tracer else contextlib.nullcontext():
            st, n_frontier, dt, cpu = crawl(spark, tables, rounds, ck)
        found = st.fetch_log.filter(F.col("found")).count()
        dups, d = checks.frontier_stats(st.frontier)
        failed = []
        if check:
            c = checks.check_crawl(st, pages, robots, DEFAULT_BUDGET, found, dups)
            result["checks"] = c
            failed = [k for k, v in c.items() if v]
        if digest is None:
            digest = d
        elif d != digest:
            failed.append("digest_differs_between_crawls")
        rec = {"crawl_s": dt, "cpu_s": cpu, "found": found, "frontier": n_frontier,
               "failed": failed, "ck_bytes": dir_bytes(ck) if ck else 0}
        result["crawls"].append(rec)
        progress("crawl", not failed, failed=failed)
        say(f"crawl {i}: {dt:.3f} s wall, {cpu:.2f} s CPU, {found} pages fetched, "
            f"{n_frontier} frontier urls"
            + (f", FAILED {failed}" if failed else ""))
        st.release()
        return ck

    last_ck = None
    try:
        t_meas = time.perf_counter()
        i = 0
        if trace:
            # A one-round warm-up crawl from 5% of the seeds, so that the
            # untraced reference crawl and the traced crawls after it all
            # run warm and their difference is the tracing overhead.
            few = seeds.filter(F.col("file_order") < max(5, seeds.count() // 20))
            crawl(spark, (pages, few, robots), 1, None)[0].release()
            last_ck = timed(i, check=True)
            i += 1
            import tracing as tr

            sizes = pages.select("url", F.length("html").alias("html_len")).persist()
            sizes.count()
            tracer = tr.Tracer(spark, sizes)
            tracer.install()
            result["traced_runs"] = []
            try:
                while True:
                    last_ck = timed(i, check=False, tracer=tracer)
                    result["traced_runs"].append(i)
                    tracer.release()
                    i += 1
                    if time.perf_counter() - t_meas >= CONFIG["seconds"]:
                        break
                if durable:
                    result["resume"] = resume_step(spark, tables, last_ck, digest, tracer, i)
            finally:
                tracer.uninstall()
        else:
            while True:
                prev_ck, last_ck = last_ck, timed(i, check=(i == 0))
                if prev_ck:
                    shutil.rmtree(prev_ck, ignore_errors=True)
                i += 1
                if time.perf_counter() - t_meas >= CONFIG["seconds"]:
                    break
            if durable:
                result["resume"] = resume_step(spark, tables, last_ck, digest, None, i)
    finally:
        rss.sample()
        rss.stop.set()
        result["peak_rss_mb"] = rss.peak_kb / 1024
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)

    if trace:
        import tracing as tr

        stages = tr.read_event_log(tr.find_event_log(os.path.join(WORK, "events"), app_id))
        result["layers"] = [tr.run_metrics(tracer.spans, stages, r) for r in result["traced_runs"]]
        tracer.dump(os.path.join(WORK, "spans.jsonl"))

    with open(os.path.join(WORK, "result.json"), "w") as f:
        json.dump(result, f)


def resume_step(spark, tables, ck: str, digest: str, tracer, run: int) -> dict:
    """Roll the last crawl's checkpoint back to round R-1, resume it for
    exactly one round in a fresh run_crawl call, and compare the
    frontier with the uninterrupted crawl's."""
    import checks

    rounds = SPEC["rounds"]
    rollback_to(ck, rounds - 1, spark)
    progress("resume", False, started=True)
    with tracer.root(run) if tracer else contextlib.nullcontext():
        st, _, dt, cpu = crawl(spark, tables, rounds, ck, resume=True)
    _, d = checks.frontier_stats(st.frontier)
    ok = st.rounds_run == rounds and d == digest
    progress("resume", ok, failed=[] if ok else ["resume_digest"])
    say(f"resume: {dt:.3f} s wall, {cpu:.2f} s CPU, rounds_run={st.rounds_run}, digest "
        + ("matches the uninterrupted crawl" if d == digest else f"{d} != {digest}"))
    st.release()
    return {"resume_s": dt, "resume_cpu_s": cpu, "ok": ok}


if __name__ == "__main__":
    main()
