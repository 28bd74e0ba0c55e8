"""Trace recorder: spans around the engine's layer boundaries, recorded from
the benchmark's side by wrapping public functions where the engine looks
them up (module attributes and class attributes), plus executor numbers
joined in from a Spark event log.

Every wrapper opens a span (name, start, end, parent, thread) and, on the
driver's main thread, tags the Spark jobs launched inside it with a job
group whose id is the path of open spans (``it3/stage:link_score/
checkpoint.write``), so a layer's jobs are the jobs whose group starts with
its span path.  Micro-batch jobs run on the stream's own thread
and are matched through the ``streaming.sql.batchId`` job property instead.
Spans stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

# (module path, attribute, span name, kind).  kind "plan": returns a lazy
# DataFrame, so the span is plan-building time; "exec": runs Spark jobs.
WRAPPED = (
    ("ahrd_spark.plans.pipeline", "detect_mentions", "detect_mentions", "plan"),
    ("ahrd_spark.streaming.pipeline", "detect_mentions", "detect_mentions", "plan"),
    ("ahrd_spark.operators.scoring_batch", "select_winners_batch",
     "select_winners_batch", "plan"),
    ("ahrd_spark.plans.pipeline", "desc_triples", "desc_triples", "plan"),
    ("ahrd_spark.plans.pipeline", "read_interpro_db", "read_interpro_db", "exec"),
    ("ahrd_spark.plans.pipeline", "interpro_closure", "interpro_closure", "exec"),
    ("ahrd_spark.plans.pipeline", "filter_most_informative",
     "filter_most_informative", "plan"),
    ("ahrd_spark.plans.pipeline", "canonical_map", "canonical_map", "plan"),
    ("ahrd_spark.operators.connected_components", "connected_components",
     "connected_components", "exec"),
    ("ahrd_spark.plans.checkpoint", "CheckpointManager.run_stage", "stage", "exec"),
    ("ahrd_spark.plans.checkpoint", "CheckpointManager.write",
     "checkpoint.write", "exec"),
    ("ahrd_spark.plans.checkpoint", "CheckpointManager.lineage",
     "checkpoint.lineage", "exec"),
    ("ahrd_spark.plans.checkpoint", "CheckpointManager.is_complete",
     "checkpoint.is_complete", "exec"),
)

JOB_GROUP = "spark.jobGroup.id"


def _resolve(module_path, attr):
    import importlib

    owner = importlib.import_module(module_path)
    parts = attr.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


def proc_tree_cpu_s(root_pid: int, name_filter: str | None = None) -> float:
    """utime+stime of every live descendant of ``root_pid`` whose command
    contains ``name_filter`` (used for the Python workers, whose CPU the
    JVM's executor CPU time does not include)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root_pid):
        try:
            if name_filter:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if name_filter.encode() not in fh.read():
                        continue
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except OSError:
            continue
    return total / tick


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """Peak resident memory of the driver JVM plus its Python workers: the
    JVM's own kernel-tracked peak (VmHWM) plus the highest sampled sum of
    the workers' proportional set size (Pss, so pages a forked worker
    shares with the pyspark daemon count once)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.jvm_kb = 0
        self.workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _field(path: str, name: str) -> int:
        with open(path) as fh:
            for line in fh:
                if line.startswith(name):
                    return int(line.split()[1])
        return 0

    def _sample(self):
        workers = 0
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
                if b"java" in cmd.split(b"\0", 1)[0]:
                    self.jvm_kb = max(self.jvm_kb, self._field(f"/proc/{pid}/status", "VmHWM:"))
                elif b"pyspark" in cmd:
                    workers += self._field(f"/proc/{pid}/smaps_rollup", "Pss:")
            except OSError:
                continue
        self.workers_kb = max(self.workers_kb, workers)

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def mb(self) -> float:
        return (self.jvm_kb + self.workers_kb) / 1024.0


class Tracer:
    """In-memory span recorder.  ``install()`` wraps the layer functions;
    ``uninstall()`` restores the originals (untraced iterations run on the
    bare engine)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()
        self._main = threading.main_thread()
        # called as on_stage(span_record, "enter" | "exit") around stage spans
        self.on_stage = None

    # -- spans -----------------------------------------------------------
    def _stack(self):
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "exec"):
        stack = self._stack()
        on_main = threading.current_thread() is self._main
        rec = {
            "id": None, "name": name, "kind": kind,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(), "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["path"] = "/".join(s["name"] for s in stack)
        prev_group = None
        if on_main:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setJobGroup(rec["path"], name)
        hook = self.on_stage if name.startswith("stage:") else None
        if hook:
            hook(rec, "enter")
        try:
            yield rec
        finally:
            if hook:
                hook(rec, "exit")
            rec["end"] = time.perf_counter()
            stack.pop()
            if on_main:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)

    # -- wrapping ----------------------------------------------------------
    def install(self):
        for module_path, attr, name, kind in WRAPPED:
            owner, leaf = _resolve(module_path, attr)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            self._patches.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrapper(orig, name, kind))

    def uninstall(self):
        for owner, leaf, orig in reversed(self._patches):
            setattr(owner, leaf, orig)
        self._patches.clear()

    def _wrapper(self, fn, name, kind):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            span_name = name
            if name == "stage":
                stage = args[1] if len(args) > 1 else kwargs["stage"]
                span_name = f"stage:{stage}"
            with tracer.span(span_name, kind):
                return fn(*args, **kwargs)

        return wrapped

    def dump(self, path: str, extra: dict | None = None):
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **(extra or {})}, fh)


# -- event log -----------------------------------------------------------
def read_event_log(log_dir: str) -> dict:
    """Jobs (group, stream query/batch ids, the stages each one ran) with
    per-stage task sums, from the event log Spark wrote into ``log_dir``
    (read after spark.stop())."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    parents: dict[int, list[int]] = {}
    # a stage's last RDD identifies its output: a shuffle map stage that a
    # later job lists again (skipped) gets a new stage id but the same RDD
    out_rdd: dict[int, int] = {}
    # Spark 4 writes rolling logs: a directory of events_N_<app> files
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and os.path.basename(p).startswith("events_")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get(JOB_GROUP) or "",
                        "batch": props.get("streaming.sql.batchId"),
                        "query": props.get("sql.streaming.queryId"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for info in ev.get("Stage Infos", []):
                        parents[info["Stage ID"]] = info.get("Parent IDs", [])
                        out_rdd[info["Stage ID"]] = max(
                            (r["RDD ID"] for r in info.get("RDD Info", [])), default=-1)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], dict.fromkeys(_TOTALS, 0))
                    st["tasks"] += 1
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    st["output_bytes"] += (
                        m.get("Output Metrics") or {}).get("Bytes Written", 0)
    # a stage listed by several jobs ran in the first of them (later jobs
    # skip it), so it belongs to the lowest job id
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        job["ran"] = {s: stages[s] for s in job["stages"] if owner.get(s) == jid and s in stages}
        job["feeds"] = {  # output RDD of each ran stage -> output RDDs of its parents
            out_rdd.get(s, -1): [out_rdd.get(p, -1) for p in parents.get(s, [])]
            for s in job["ran"]
        }
        job["out_rdd"] = {s: out_rdd.get(s, -1) for s in job["ran"]}
    return jobs


_TOTALS = ("cpu_s", "shuffle_write_bytes", "disk_spill_bytes", "output_bytes", "tasks")


def group_totals(jobs: dict, prefix: str) -> dict:
    """Sums over the jobs whose group is ``prefix`` or lies under it.
    ``output_exchange_bytes`` is the shuffle feeding the stages that write
    files -- a checkpoint's repartition of its own output -- so the rest of
    ``shuffle_write_bytes`` is the shuffling the layer's plan itself does."""
    sel = [j for j in jobs.values()
           if j["group"] == prefix or j["group"].startswith(prefix + "/")]
    ran = [(j["out_rdd"][sid], st) for j in sel for sid, st in j["ran"].items()]
    feeds = {rdd: ps for j in sel for rdd, ps in j["feeds"].items()}
    out = {k: sum(st[k] for _, st in ran) for k in _TOTALS}
    feeding = {p for rdd, st in ran if st["output_bytes"] > 0 for p in feeds[rdd]}
    out["output_exchange_bytes"] = sum(
        st["shuffle_write_bytes"] for rdd, st in ran if rdd in feeding)
    out["jobs"] = len(sel)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
