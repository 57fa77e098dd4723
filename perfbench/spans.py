"""Spans around the public calls into each layer, and the event-log rollup.

The tracer wraps program methods from the benchmark's side only; the
program itself is unchanged. Each span records name, label, start, end,
parent and run id, and sets the Spark job group to its own id, so every
Spark job is attributed to the innermost span that launched it. Span
stacks are kept per thread: ``run_crawl`` compacts its tables in a thread
pool, and a span opened in a pool thread takes the main thread's current
span as its parent.

After the session stops, ``read_event_log`` parses the uncompressed
Spark event log and ``layer_metrics`` sums task metrics and the Python
worker accumulables per span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# SnapshotTable methods wrapped, labelled by table directory name.
TABLE_METHODS = (
    "append", "write_data", "commit_dirs", "compact", "expire_snapshots", "overwrite",
)
SEEN_METHODS = ("filter_and_add", "filter_new", "add", "compact")
PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
}


@dataclass
class Span:
    id: str
    name: str
    label: str
    parent: str | None
    run: str | None
    start: float
    end: float = 0.0
    files: int = 0
    bytes: int = 0


def _dir_entries(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except FileNotFoundError:
        return set()


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Tracer:
    """Span recorder. ``enabled`` gates recording, so one installed tracer
    serves traced and untraced repetitions of the same session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self.run: str | None = None
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._n = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, label: str = "") -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._n += 1
            sid = f"s{self._n}"
        span = Span(sid, name, label, parent.id if parent else None, self.run, time.time())
        stack.append(span)
        self.sc.setJobGroup(sid, f"{name}:{label}" if label else name)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        if stack:
            top = stack[-1]
            self.sc.setJobGroup(top.id, f"{top.name}:{top.label}" if top.label else top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        with self._lock:
            self.spans.append(span)

    # -- wrapping ------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, label_of=None, data_dir_of=None) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            label = label_of(args) if label_of else ""
            data_dir = data_dir_of(args) if data_dir_of else None
            before = _dir_entries(data_dir) if data_dir else set()
            s = tracer.begin(name, label)
            try:
                return original(*args, **kwargs)
            finally:
                if data_dir:
                    for d in _dir_entries(data_dir) - before:
                        f, b = _tree_size(os.path.join(data_dir, d))
                        s.files += f
                        s.bytes += b
                tracer.end(s)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def install(self) -> None:
        from web_scraper_spark.operators import seen as seen_mod
        from web_scraper_spark.plans import crawl as crawl_mod
        from web_scraper_spark.sources.tables import SnapshotTable

        table_label = lambda a: os.path.basename(a[0].root.rstrip("/"))  # noqa: E731
        table_data = lambda a: os.path.join(a[0].root, "data")  # noqa: E731
        for m in TABLE_METHODS:
            self._wrap(SnapshotTable, m, f"table.{m}", table_label, table_data)
        for cls in (seen_mod.URLSeenSet, seen_mod._BlobStateSeenSet,
                    seen_mod.BloomURLSeenSet, seen_mod.CuckooURLSeenSet):
            for m in SEEN_METHODS:
                if m in vars(cls):
                    self._wrap(cls, m, f"seen.{m}", None,
                               lambda a: os.path.join(a[0].table.root, "data"))
        # names run_crawl resolves from its own module namespace
        self._wrap(crawl_mod, "assign_rounds", "politeness.assign_rounds")
        self._wrap(crawl_mod, "merge_company_records", "tables.merge_company_records")
        self._wrap(crawl_mod, "run_crawl", "crawl.run_crawl")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


# -- event log -------------------------------------------------------------
@dataclass
class Job:
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    shuffle_bytes: int = 0
    acc: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    # per stage: executor run times of its tasks (skew)
    stage_runs: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Parse every event file under ``log_dir`` (rolling or single-file,
    uncompressed) into jobs with their task metrics summed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )

    def events():
        for f in files:
            with open(f) as fh:
                for line in fh:
                    yield json.loads(line)

    for e in events():
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(props.get("spark.jobGroup.id"), e["Submission Time"] / 1000.0,
                      stages=list(e.get("Stage IDs", [])))
            jobs[e["Job ID"]] = job
            for sid in job.stages:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            job.tasks += 1
            m = e.get("Task Metrics") or {}
            job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.stage_runs[e["Stage ID"]].append(m.get("Executor Run Time", 0))
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                key = PY_ACCUMS.get(a.get("Name"))
                if key is not None:
                    job.acc[key] += float(a.get("Update", 0) or 0)
    return jobs


# -- rollup ----------------------------------------------------------------
def self_times(spans: list[Span], root: Span) -> dict[str, float]:
    """Wall time of ``root`` apportioned to its spans: each instant goes to
    the innermost spans open at that instant, split evenly when several
    run concurrently (pool threads). The values sum to the root's wall
    time; the root's own share is time no child span covers."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    tree: list[Span] = []
    todo = [root]
    while todo:
        s = todo.pop()
        tree.append(s)
        todo.extend(children[s.id])
    bounds = sorted({root.start, root.end} | {
        min(max(t, root.start), root.end) for s in tree for t in (s.start, s.end)
    })
    out = {s.id: 0.0 for s in tree}
    for a, b in zip(bounds, bounds[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        live = [s for s in tree if s.start <= mid < s.end]
        parents = {s.parent for s in live}
        leaves = [s for s in live if s.id not in parents]
        for s in leaves:
            out[s.id] += (b - a) / len(leaves)
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(spans: list[Span], jobs: dict[int, Job], reps: list[dict]) -> dict[str, float]:
    """Per-layer metrics for the traced repetitions in ``reps`` (each a dict
    with ``run`` id and ``rounds``: the round-commit timestamps). Times and
    byte counts are totals per repetition, median over repetitions, unless
    the name says per call or per round."""
    by_run = defaultdict(list)
    for s in spans:
        by_run[s.run].append(s)
    jobs_by_group = defaultdict(list)
    for j in jobs.values():
        jobs_by_group[j.group].append(j)

    per_rep: dict[str, list[float]] = defaultdict(list)
    seen_calls: list[float] = []
    seen_tasks: list[float] = []
    round_jobs: list[float] = []
    round_tasks: list[float] = []
    round_gaps: list[float] = []
    skews: list[float] = []
    for rep in reps:
        rs = by_run[rep["run"]]
        kids = defaultdict(list)
        for s in rs:
            kids[s.parent].append(s)

        def subtree_jobs(s: Span) -> list[Job]:
            out, todo = [], [s]
            while todo:
                x = todo.pop()
                out.extend(jobs_by_group.get(x.id, []))
                todo.extend(kids[x.id])
            return out

        def total(pred, fn) -> float:
            return float(sum(fn(s) for s in rs if pred(s)))

        def job_sum(pred, key) -> float:
            return float(sum(
                (j.acc[key] if key in PY_ACCUMS.values() else getattr(j, key))
                for s in rs if pred(s) for j in subtree_jobs(s)
            ))

        dur = lambda s: s.end - s.start  # noqa: E731
        is_ = lambda name, label=None: (  # noqa: E731
            lambda s: s.name == name and (label is None or s.label == label))
        seen_pred = lambda s: s.name.startswith("seen.")  # noqa: E731
        m = per_rep
        roots = [s for s in rs if s.name == "crawl.run_crawl"]
        if roots:
            selfs = self_times(rs, roots[0])
            root_wall = roots[0].end - roots[0].start
            if abs(sum(selfs.values()) - root_wall) > 1e-6 * max(1.0, root_wall):
                raise AssertionError("self times do not sum to the run_crawl wall time")
            m["crawl.unattributed_s"].append(selfs[roots[0].id])
        else:
            m["crawl.unattributed_s"].append(0.0)
        for s in rs:
            if s.name == "seen.filter_and_add":
                seen_calls.append(dur(s))
                seen_tasks.append(sum(j.tasks for j in subtree_jobs(s)))
        m["seen.python_init_s"].append(
            (job_sum(seen_pred, "py_init_ms") + job_sum(seen_pred, "py_start_ms")) / 1000)
        m["seen.python_run_s"].append(job_sum(seen_pred, "py_run_ms") / 1000)
        m["seen.shuffle_bytes"].append(job_sum(seen_pred, "shuffle_bytes"))
        m["seen.state_bytes_written"].append(total(seen_pred, lambda s: s.bytes))
        log_app = is_("table.append", "crawl_log")
        ext_app = is_("table.append", "extracted_log")
        m["fetch.log_append_s"].append(total(log_app, dur))
        m["fetch.shuffle_bytes"].append(job_sum(log_app, "shuffle_bytes"))
        m["extract.append_s"].append(total(ext_app, dur))
        m["extract.python_run_s"].append(job_sum(ext_app, "py_run_ms") / 1000)
        m["extract.arrow_bytes_in"].append(job_sum(ext_app, "py_bytes_in"))
        m["images.append_s"].append(total(is_("table.append", "images"), dur))
        pol = is_("politeness.assign_rounds")
        m["politeness.assign_s"].append(total(pol, dur))
        m["politeness.shuffle_bytes"].append(job_sum(pol, "shuffle_bytes"))
        for s in rs:
            if pol(s):
                for j in subtree_jobs(s):
                    for runs in j.stage_runs.values():
                        if len(runs) >= 2 and statistics.median(runs) > 0:
                            skews.append(max(runs) / statistics.median(runs))
        table = lambda s: s.name.startswith("table.")  # noqa: E731
        m["tables.stage_write_s"].append(total(is_("table.write_data"), dur))
        m["tables.commits"].append(total(
            lambda s: s.name in ("table.append", "table.overwrite", "table.commit_dirs"),
            lambda s: 1))
        m["tables.files_written"].append(total(table, lambda s: s.files))
        m["tables.bytes_written"].append(total(table, lambda s: s.bytes))
        m["tables.compact_s"].append(total(is_("table.compact"), dur))
        m["tables.merge_s"].append(total(is_("tables.merge_company_records"), dur))

        # rounds: jobs submitted between successive round commits
        rounds = rep.get("rounds") or []
        rep_jobs = [j for s in rs for j in jobs_by_group.get(s.id, [])]
        for a, b in zip(rounds, rounds[1:]):
            inside = [j for j in rep_jobs if a <= j.submit < b]
            round_jobs.append(len(inside))
            round_tasks.append(sum(j.tasks for j in inside))
            busy = _union_len([(max(j.submit, a), min(j.end or b, b)) for j in inside])
            round_gaps.append((b - a) - busy)

    out = {k: _median(v) for k, v in per_rep.items()}
    out["seen.call_s"] = _median(seen_calls)
    out["seen.tasks_per_call"] = _median(seen_tasks)
    out["crawl.jobs_per_round"] = _median(round_jobs)
    out["crawl.tasks_per_round"] = _median(round_tasks)
    out["crawl.driver_gap_s"] = _median(round_gaps)
    out["politeness.task_skew"] = max(skews) if skews else 0.0
    return out
