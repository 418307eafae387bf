"""Layer tracing from outside the program.

``Tracer.install()`` replaces the public functions ``run_crawl`` calls
with wrappers; ``uninstall()`` puts the originals back.  Each wrapper

- opens a span (name, start, end, parent span, run id, round);
- sets the Spark local property ``bench.layer`` to the span id, so the
  stages its jobs run roll up to it in the event log;
- persists and counts its DataFrame outputs before closing the span, so
  the span holds that layer's own work instead of lending it to
  whichever later layer happens to consume the output lazily;
- records row and plan-node counts.

Counts that need an extra Spark job run inside a ``probe`` span: its
time is tracing overhead, never any layer's.  Spans stay in memory until
the run ends (``dump``); ``run_metrics`` turns them plus the parsed event
log into the per-layer numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import tripwire_spark.operators.crawl as crawl_mod
from tripwire_spark.operators.seen import SeenState
from tripwire_spark.sources.snapshots import SnapshotTable

PROBE = "probe"
ROOT = "crawl.run"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run: int
    round: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


def plan_nodes(df: DataFrame) -> int:
    """Node count of the (unanalysed) logical plan: one line per node
    in its tree string."""
    return len(df._jdf.queryExecution().logical().treeString().splitlines())


class Tracer:
    def __init__(self, spark, page_sizes: DataFrame) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.page_sizes = page_sizes  # (url, html_len), cached by the caller
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.run = 0
        self.round = 0
        self.pinned: list[DataFrame] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, parent, self.run, self.round, time.time())
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setLocalProperty("bench.layer", str(s.sid))
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        self.stack.pop()
        self.sc.setLocalProperty("bench.layer", str(self.stack[-1].sid) if self.stack else None)

    def materialize(self, df: DataFrame) -> int:
        df.persist()
        self.pinned.append(df)
        return df.count()

    def probe(self, fn):
        """Run a counting job outside every layer's time."""
        p = self.open(PROBE)
        try:
            return fn()
        finally:
            self.close(p)

    def release(self) -> None:
        for df in self.pinned:
            df.unpersist()
        self.pinned = []

    # -- wrappers -----------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = owner.__dict__[attr]
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        t = self

        def layer(name, count_inputs=None, count_outputs=None):
            def make(orig):
                def wrapper(*a, **kw):
                    if name == "frontier.schedule":
                        t.round = int(kw.get("round_no", 1))
                    s = t.open(name)
                    try:
                        if count_inputs:
                            t.probe(lambda: count_inputs(s, a, kw))
                        out = orig(*a, **kw)
                        outs = out if isinstance(out, tuple) else (out,)
                        rows = [t.materialize(o) if isinstance(o, DataFrame) else None for o in outs]
                        s.counts["rows_out"] = rows
                        if count_outputs:
                            t.probe(lambda: count_outputs(s, a, kw, outs))
                        return out
                    finally:
                        t.close(s)
                return wrapper
            return make

        # operators.frontier (called through the crawl module's names)
        def sched_in(s, a, kw):
            s.counts["rows_in"] = a[0].count()

        self._patch(crawl_mod, "politeness_schedule",
                    layer("frontier.schedule", count_inputs=sched_in))

        def settle_out(s, a, kw, outs):
            s.counts["plan_nodes"] = plan_nodes(outs[0])

        self._patch(crawl_mod, "settle", layer("frontier.settle", count_outputs=settle_out))

        # operators.crawl
        def fetch_out(s, a, kw, outs):
            s.counts["html_bytes"] = int(
                outs[0].select("url").join(t.page_sizes, "url").agg(F.sum("html_len")).first()[0] or 0
            )

        self._patch(crawl_mod, "fetch_extract", layer("crawl.fetch_extract", count_outputs=fetch_out))

        def disc_in(s, a, kw):
            s.counts["links_in"] = a[0].count()

        def disc_out(s, a, kw, outs):
            s.counts["candidates"] = outs[1].filter(F.col("decision") == "candidate").count()

        self._patch(crawl_mod, "discover", layer("crawl.discover", count_inputs=disc_in, count_outputs=disc_out))

        # operators.seen
        def admit_in(s, a, kw):
            cands, state = a[1], a[2]
            s.counts["cands"] = cands.count()
            st = state if kw.get("delta_side") is None else state.unionByName(kw["delta_side"])
            r = st.agg(F.count("*"), F.sum("n_items")).first()
            s.counts["segments"], s.counts["items"] = int(r[0]), int(r[1] or 0)
            s.counts["plan_nodes"] = plan_nodes(state)

        def admit_out(s, a, kw, outs):
            s.counts["admitted"] = outs[0].filter(F.col("kind") == 0).count()

        self._patch(SeenState, "init", layer("seen.init"))
        self._patch(SeenState, "admit", layer("seen.admit", count_inputs=admit_in, count_outputs=admit_out))
        self._patch(SeenState, "compact", layer("seen.compact"))

        # sources.snapshots.  An append to an empty table falls back to a
        # full commit; that inner commit span counts the snapshot.
        def committed(op):
            def count(s, a, kw, outs):
                snap = a[0].snapshots()[-1]
                if snap["op"] == op:
                    s.counts["files"] = len(snap.get("files", []))
                    s.counts["bytes"] = int(snap.get("added_bytes") or 0)
            return count

        self._patch(SnapshotTable, "commit", layer("snapshots.commit", count_outputs=committed("overwrite")))
        self._patch(SnapshotTable, "commit_append", layer("snapshots.append", count_outputs=committed("append")))
        for m in ("read", "read_base", "read_deltas"):
            self._patch(SnapshotTable, m, layer("snapshots.read"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved = []

    def root(self, run: int):
        """Context manager: the root span of one traced crawl."""
        tracer = self

        class _Root:
            def __enter__(self):
                tracer.run, tracer.round = run, 0
                self.span = tracer.open(ROOT)
                return self.span

            def __exit__(self, *exc):
                tracer.close(self.span)
                return False

        return _Root()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# -- event log -----------------------------------------------------------------


@dataclass
class Stage:
    layer: int | None
    start: float
    end: float
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    task_s: list = field(default_factory=list)


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(paths: list[str]) -> list[Stage]:
    """Completed stages with their ``bench.layer`` and task totals."""
    layer_of: dict[int, int | None] = {}
    stages: dict[tuple[int, int], Stage] = {}
    tasks: dict[tuple[int, int], list[dict]] = {}
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            lay = (ev.get("Properties") or {}).get("bench.layer")
            for sid in ev.get("Stage IDs", []):
                layer_of.setdefault(sid, int(lay) if lay else None)
        elif kind == "SparkListenerStageSubmitted":
            lay = (ev.get("Properties") or {}).get("bench.layer")
            if lay:
                layer_of[ev["Stage Info"]["Stage ID"]] = int(lay)
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), []).append(ev)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Submission Time" not in si or "Completion Time" not in si:
                continue
            key = (si["Stage ID"], si["Stage Attempt ID"])
            stages[key] = Stage(layer_of.get(si["Stage ID"]),
                                si["Submission Time"] / 1e3, si["Completion Time"] / 1e3)
    for key, st in stages.items():
        for ev in tasks.get(key, []):
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            run = m.get("Executor Run Time", 0) / 1e3
            st.run_s += run
            st.task_s.append(run)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(stages.values())


def find_event_log(log_dir: str, app_id: str) -> list[str]:
    """The finished event-log file(s) of ``app_id``: one plain file, or
    the ``events_<n>_<app>`` parts of a rolling log directory."""
    for fn in os.listdir(log_dir):
        p = os.path.join(log_dir, fn)
        if fn == app_id:
            return [p]
        if fn == f"eventlog_v2_{app_id}" and not any(
                f.endswith(".inprogress") for f in os.listdir(p)):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            return [os.path.join(p, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


# -- per-layer metrics ---------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _self_time(span: Span, children: list[Span]) -> float:
    return (span.end - span.start) - _union_len(
        [(c.start, c.end) for c in children], span.start, span.end)


def _gap(lo: float, hi: float, busy: list[tuple[float, float]]) -> float:
    return (hi - lo) - _union_len(busy, lo, hi)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def run_metrics(spans: list[Span], stages: list[Stage], run: int) -> dict[str, float]:
    """Per-layer numbers for one traced crawl (``run``)."""
    mine = [s for s in spans if s.run == run]
    root = next(s for s in mine if s.name == ROOT and s.parent is None)
    kids: dict[int, list[Span]] = {}
    for s in mine:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    by_id = {s.sid: s for s in mine}
    # this crawl's stages, without the probes' (tracing overhead)
    own = [st for st in stages if st.layer in by_id and by_id[st.layer].name != PROBE]

    def named(name):
        return [s for s in mine if s.name == name]

    def self_s(name):
        return sum(_self_time(s, kids.get(s.sid, [])) for s in named(name))

    def total(name, key):
        return sum(int(s.counts.get(key) or 0) for s in named(name))

    m: dict[str, float] = {}
    crawl_s = root.end - root.start
    sched = named("frontier.schedule")
    claimed = sum(int(s.counts["rows_out"][0] or 0) for s in sched)
    m["frontier.schedule_s"] = self_s("frontier.schedule")
    m["frontier.schedule_rows_in"] = total("frontier.schedule", "rows_in")
    m["frontier.claimed_rows"] = claimed
    m["frontier.disabled_rows"] = sum(int(s.counts["rows_out"][1] or 0) for s in sched)
    skews = []
    for s in sched:
        st = [x for x in own if x.layer == s.sid and x.tasks > 1]
        if st:
            w = max(st, key=lambda x: x.run_s)  # the window stage does the work
            med = statistics.median(w.task_s)
            skews.append(max(w.task_s) / med if med > 0 else 1.0)
    m["frontier.schedule_task_skew"] = max(skews) if skews else 1.0
    m["frontier.settle_s"] = self_s("frontier.settle")
    settles = named("frontier.settle")
    m["frontier.rows"] = int(settles[-1].counts["rows_out"][0]) if settles else 0

    fetch = named("crawl.fetch_extract")
    hits = sum(int(s.counts["rows_out"][0] or 0) for s in fetch)
    m["crawl.fetch_extract_s"] = self_s("crawl.fetch_extract")
    m["crawl.fetch_hits"] = hits
    m["crawl.fetch_misses"] = claimed - hits
    m["crawl.fetch_hit_ratio"] = _ratio(hits, claimed)
    m["crawl.html_bytes_in"] = total("crawl.fetch_extract", "html_bytes")
    m["crawl.extract_pages_per_s"] = _ratio(hits, m["crawl.fetch_extract_s"])
    m["crawl.discover_s"] = self_s("crawl.discover")
    m["crawl.links_in"] = total("crawl.discover", "links_in")
    m["crawl.candidates"] = total("crawl.discover", "candidates")
    m["crawl.discover_keep_ratio"] = _ratio(m["crawl.candidates"], m["crawl.links_in"])
    starts = [s.start for s in sched] + [root.end]
    rounds = [b - a for a, b in zip(starts, starts[1:])]
    m["crawl.round_s"] = statistics.median(rounds) if rounds else 0.0
    m["crawl.plan_nodes"] = max(
        [int(s.counts.get("plan_nodes") or 0) for s in named("seen.admit") + settles] or [0])

    admits = named("seen.admit")
    m["seen.init_s"] = self_s("seen.init")
    m["seen.admit_s"] = self_s("seen.admit")
    m["seen.admitted"] = total("seen.admit", "admitted")
    m["seen.admit_ratio"] = _ratio(m["seen.admitted"], total("seen.admit", "cands"))
    m["seen.state_items"] = int(admits[-1].counts["items"]) if admits else 0
    m["seen.state_segments"] = int(admits[-1].counts["segments"]) if admits else 0
    m["seen.compact_s"] = self_s("seen.compact")

    m["snapshots.commit_s"] = self_s("snapshots.commit")
    m["snapshots.append_s"] = self_s("snapshots.append")
    m["snapshots.read_s"] = self_s("snapshots.read")
    m["snapshots.commits"] = sum("files" in s.counts
                                 for s in named("snapshots.commit") + named("snapshots.append"))
    m["snapshots.files_written"] = total("snapshots.commit", "files") + total("snapshots.append", "files")
    m["snapshots.bytes_written"] = total("snapshots.commit", "bytes") + total("snapshots.append", "bytes")

    busy = [(st.start, st.end) for st in stages]
    m["spark.stages"] = len(own)
    m["spark.tasks"] = sum(st.tasks for st in own)
    m["spark.shuffle_write_bytes"] = sum(st.shuffle_write for st in own)
    m["spark.spill_bytes"] = sum(st.spill for st in own)
    m["spark.gc_s"] = sum(st.gc_s for st in own)
    m["spark.executor_run_s"] = sum(st.run_s for st in own)
    m["spark.executor_cpu_s"] = sum(st.cpu_s for st in own)
    m["spark.driver_gap_s"] = _gap(root.start, root.end, busy)

    # Accounting: every instant of the crawl is a layer's self time, a
    # probe (tracing), or root self time; the last splits into
    # stage-free driver time and work no layer claimed.
    layer_self = sum(_self_time(s, kids.get(s.sid, []))
                     for s in mine if s.name not in (ROOT, PROBE))
    probe_s = sum(s.end - s.start for s in named(PROBE))
    outside = [(root.start, root.end)]
    for c in kids.get(root.sid, []):
        outside = [iv for lo, hi in outside for iv in ((lo, min(hi, c.start)), (max(lo, c.end), hi)) if iv[1] > iv[0]]
    root_gap = sum(_gap(lo, hi, busy) for lo, hi in outside)
    m["trace.crawl_s"] = crawl_s
    m["trace.layer_self_s"] = layer_self
    m["trace.probe_s"] = probe_s
    m["trace.unattributed_s"] = sum(hi - lo for lo, hi in outside) - root_gap
    m["trace.accounted_frac"] = _ratio(layer_self + root_gap, crawl_s - probe_s)
    return m
