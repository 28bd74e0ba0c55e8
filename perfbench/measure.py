"""One fresh process of a benchmark run (started by ``run.py``).

    python3 perfbench/measure.py SPEC_JSON

It sets up (``setup_s``: process start until the SparkSession has run its
first job), times the workload (cold run, steady window, resume), with
tracing on records the per-layer numbers, and then runs the correctness gate
on the outputs the measured runs left on disk.  It writes one JSON result to
``SPEC["out"]``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from tracing import (
    PeakRss, Tracer, group_totals, median, proc_tree_cpu_s, read_event_log,
)

BLACKLIST = (
    r"(?i)^similar\s+to", r"(?i)^probable", r"(?i)^putative",
    r"(?i)^predicted", r"(?i)^uncharacterized", r"(?i)^unknown",
    r"(?i)^hypothetical",
)
FILTER = (r"(?i)\s*\(fragment\)", r"(?i)\s+OS=.*$", r"(?i)\s+isoform\s+\d+")
TOKEN_BLACKLIST = (r"(?i)^protein$", r"(?i)^family$", r"(?i)^domain$")


def workload_config(spec: dict):
    """The AhrdConfig of a workload: three weighted databases sharing one
    blacklist/filter/token-blacklist setting; the enriched workload adds
    GOA (with GO preference) and InterPro."""
    from ahrd_spark.config import AhrdConfig, BlastDbConfig

    dbs = tuple(
        BlastDbConfig(
            name=f"db{i}",
            weight=(100, 50, 10)[i],
            description_score_bit_score_weight=(0.2, 0.4, 0.4)[i],
            blacklist=BLACKLIST,
            filter=FILTER,
            token_blacklist=TOKEN_BLACKLIST,
        )
        for i in range(3)
    )
    cfg = AhrdConfig(blast_dbs=dbs)
    if spec["workload"] == "enriched_batch":
        inp = spec["inputs"]
        cfg = cfg.with_(
            gene_ontology_result=os.path.join(inp, "goa.gaf"),
            prefer_reference_with_go_annos=True,
            interpro_database=os.path.join(inp, "interpro.xml"),
            interpro_result=os.path.join(inp, "interpro_result.tsv"),
        )
    return cfg


def start_session(spec: dict, event_log: str | None = None):
    """get_spark on local[cores] (+ the event log when tracing), then the
    first job.  Returns (spark, setup_s, get_spark_s)."""
    from ahrd_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        # the JVM's temp files (native libs, artifacts) stay in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            # plan strings ride on every SQL/AQE event; the trace reads job,
            # stage and task events only
            "spark.sql.maxPlanStringLength": "1024",
        }
    t = time.time()
    spark = get_spark(
        app_name=f"perfbench-{spec['workload']}",
        master=f"local[{spec['cores']}]",
        extra_conf=extra,
    )
    get_spark_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.time() - spec["t_spawn"], get_spark_s


STAGES = ("mention_detect", "link_score", "canonicalize", "materialize")
# a resume is 0.02-0.1 s of sidecar reads, file listing and small jobs, so
# scheduling noise swamps its median from run to run; resume_s is the fastest
# of many samples, taken after a few unsampled resumes warmed that code path
RESUME_WARMUP = 5
RESUME_SAMPLES = 20
STREAM_RESUME_SAMPLES = 5  # after one unsampled replay


def _lineage(wd: str, stage: str) -> dict:
    with open(os.path.join(wd, stage, "_lineage.json")) as fh:
        return json.load(fh)


def _tree_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return size, n


def _gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _p75(xs):
    return xs[0] if len(xs) == 1 else statistics.quantiles(xs, n=4, method="inclusive")[2]


# -- batch workloads ----------------------------------------------------
def measure_batch(spark, spec, manifest):
    """Cold run, steady window and resumes of run_pipeline; with tracing,
    every other steady run is traced."""
    from ahrd_spark.plans.pipeline import run_pipeline

    cfg = workload_config(spec)
    docs = spark.read.parquet(os.path.join(spec["inputs"], manifest["docs_dir"]))
    syn = None
    if spec["workload"] == "enriched_batch":
        syn = spark.read.parquet(os.path.join(spec["inputs"], "synonyms.parquet"))
    work = spec["work"]
    res = {"attempted": 0, "failed": 0, "errors": []}
    reference = {}

    def one(wd: str, wrap=None) -> float | None:
        """One run_pipeline into a fresh workdir; its materialize checksum
        must equal the cold run's (the gate checks the final workdir's
        triples in full)."""
        shutil.rmtree(wd, ignore_errors=True)
        res["attempted"] += 1
        try:
            t = time.perf_counter()
            with wrap or contextlib.nullcontext():
                run_pipeline(spark, docs, cfg, wd, synonym_edges=syn)
            dt = time.perf_counter() - t
        except Exception:  # a failed run is counted, and the run goes on
            res["failed"] += 1
            res["errors"].append(traceback.format_exc())
            return None
        lin = _lineage(wd, "materialize")
        sig = (lin["total_rows"], lin["checksum"])
        if reference.setdefault("sig", sig) != sig:
            res["failed"] += 1
            res["errors"].append(f"materialize checksum drift in {wd}: {sig}")
        return dt

    wds = [os.path.join(work, name) for name in ("wd-a", "wd-b")]
    res["cold_run_s"] = one(wds[0])

    # steady window: --seconds of back-to-back runs (closed loop, one job
    # in flight).  With tracing, runs alternate between the bare engine and
    # the traced one (trace.overhead compares the two).
    seconds = spec["seconds"]
    samples, traced = [], []
    tracer = Tracer(spark) if spec["trace"] else None
    i = 1
    t0 = time.perf_counter()
    while True:
        wd = wds[i % 2]
        if tracer is not None and i % 2 == 0:
            rec: dict = {}
            tracer.install()
            try:
                if one(wd, traced_iteration(spark, tracer, i, rec)) is not None:
                    traced.append(dict(rec, outputs=stage_outputs(wd)))
            finally:
                tracer.uninstall()
        else:
            dt = one(wd)
            if dt is not None:
                samples.append(dt)
        i += 1
        if time.perf_counter() - t0 >= seconds and len(samples) >= 2 and (
            tracer is None or len(traced) >= 2
        ):
            break
    final_wd = wds[(i - 1) % 2]

    resume = []
    for k in range(RESUME_WARMUP + RESUME_SAMPLES):
        res["attempted"] += 1
        t = time.perf_counter()
        try:
            run_pipeline(spark, docs, cfg, final_wd, synonym_edges=syn)
        except Exception:
            res["failed"] += 1
            res["errors"].append(traceback.format_exc())
            continue
        if k >= RESUME_WARMUP:
            resume.append(time.perf_counter() - t)

    ckpt_bytes, _ = _tree_bytes(final_wd)
    docs_bytes = manifest["bytes"][manifest["docs_dir"]]
    res.update({
        "final_wd": final_wd,
        "samples": samples,
        "docs_per_s": manifest["n_docs"] / median(samples),
        "resume_s": min(resume),
        "ckpt_bytes_per_input_byte": ckpt_bytes / docs_bytes,
        "batch_latency_p50_s": median(samples),
        "batch_latency_p75_s": _p75(samples),
    })
    if tracer is not None:
        res["tracer"] = tracer
        # bare runs 3, 5, .. bracket traced runs 2, 4, .. in time, so the
        # JIT still warming up through the window cancels out of the ratio
        res["layers"] = {"iterations": traced, "blast_spans": manifest["blast_spans"],
                         "untraced_median_s": median(samples[1:] or samples),
                         "cores": spec["cores"]}
    return res


@contextlib.contextmanager
def traced_iteration(spark, tracer, i: int, rec: dict):
    """Root span of one traced run_pipeline.  Adds what the event log's
    executor CPU leaves out: JVM GC time (MXBeans) over the iteration and,
    per stage span, the Python workers' CPU (/proc)."""

    def cpu():
        return proc_tree_cpu_s(os.getpid(), "pyspark")

    def on_stage(span, phase):
        if phase == "enter":
            span["py_cpu0"] = cpu()
        else:
            span["py_cpu_s"] = cpu() - span.pop("py_cpu0")

    gc0 = _gc_s(spark)
    tracer.on_stage = on_stage
    try:
        with tracer.span(f"it{i}") as root:
            rec["root"] = root
            yield
    finally:
        tracer.on_stage = None
        rec["gc_s"] = _gc_s(spark) - gc0


def stage_outputs(wd: str) -> dict:
    """Rows (from the lineage sidecar), bytes and files of each checkpoint."""
    out = {}
    for st in STAGES:
        p = os.path.join(wd, st)
        if os.path.exists(p):
            size, files = _tree_bytes(p)
            out[st] = {"rows": _lineage(wd, st)["total_rows"], "bytes": size, "files": files}
    return out


def finish_batch_layers(layers: dict, spans: list[dict], jobs: dict) -> dict:
    """Per-layer numbers of the traced iterations (median over them): span
    times, event-log sums over each span's jobs, checkpoint outputs."""
    cores = layers["cores"]
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def descendants(root_id):
        out, todo = [], [root_id]
        while todo:
            for c in by_parent.get(todo.pop(), []):
                out.append(c)
                todo.append(c["id"])
        return out

    rows = []
    for it in layers["iterations"]:
        root = it["root"]
        kids = by_parent.get(root["id"], [])
        stages = {k["name"].split(":", 1)[1]: k for k in kids if k["name"].startswith("stage:")}
        desc = descendants(root["id"])
        named = lambda n: [s for s in desc if s["name"] == n]  # noqa: E731
        r = {"checkpoint.shuffle_write_bytes": 0}
        for st in STAGES:
            s = stages.get(st)
            if s is None:  # canonicalize is skipped when statically empty
                r[f"{st}.wall_s"] = r[f"{st}.cpu_s"] = r[f"{st}.shuffle_write_bytes"] = 0
                continue
            tot = group_totals(jobs, s["path"])
            r[f"{st}.wall_s"] = dur(s)
            r[f"{st}.cpu_s"] = tot["cpu_s"] + s.get("py_cpu_s", 0.0)
            # the repartition of the stage's own output is the checkpoint's
            r[f"{st}.shuffle_write_bytes"] = tot["shuffle_write_bytes"] - tot["output_exchange_bytes"]
            r["checkpoint.shuffle_write_bytes"] += tot["output_exchange_bytes"]
        for st in ("mention_detect", "link_score"):
            w = r[f"{st}.wall_s"]
            r[f"{st}.core_util"] = r[f"{st}.cpu_s"] / (w * cores) if w else 0.0
        lin = it["outputs"]
        r["mention_detect.plan_s"] = sum(dur(s) for s in named("detect_mentions"))
        r["mention_detect.gate_pass"] = lin["mention_detect"]["rows"] / layers["blast_spans"]
        r["mention_detect.ckpt_bytes"] = lin["mention_detect"]["bytes"]
        r["link_score.plan_s"] = sum(dur(s) for s in named("select_winners_batch"))
        r["link_score.winners"] = lin["link_score"]["rows"]
        r["materialize.triples"] = lin["materialize"]["rows"]
        r["interpro.read_db_s"] = sum(dur(s) for s in named("read_interpro_db"))
        closure = named("interpro_closure")
        r["interpro.closure_s"] = sum(dur(s) for s in closure)
        r["interpro.closure_jobs"] = sum(group_totals(jobs, s["path"])["jobs"] for s in closure)
        cc = named("connected_components")
        r["cc.wall_s"] = sum(dur(s) for s in cc)
        r["cc.jobs"] = sum(group_totals(jobs, s["path"])["jobs"] for s in cc)
        root_tot = group_totals(jobs, root["path"])
        r["checkpoint.bytes_written"] = root_tot["output_bytes"]
        r["checkpoint.files_written"] = sum(v["files"] for v in lin.values())
        lineage_kinds = ("checkpoint.lineage", "checkpoint.is_complete")
        ids = {s["id"]: s for s in desc}
        r["checkpoint.lineage_s"] = sum(
            dur(s) for s in desc if s["name"] in lineage_kinds
            and ids.get(s["parent"], {}).get("name") not in lineage_kinds
        )
        r["pipeline.other_s"] = dur(root) - sum(dur(k) for k in kids)
        r["jvm.gc_s"] = it["gc_s"]
        r["spill_bytes"] = root_tot["disk_spill_bytes"]
        r["_wall_s"] = dur(root)
        rows.append(r)
    out = {k: median([r[k] for r in rows]) for k in rows[0] if not k.startswith("_")}
    out["trace.overhead"] = median([r["_wall_s"] for r in rows]) / layers["untraced_median_s"] - 1.0
    return out


# -- stream workload ----------------------------------------------------
def drain(spark, spec, base: str, fresh: bool = True):
    """stream_triples over the landing zone (availableNow, one file per
    trigger) with sink and checkpoint under ``base``; ``fresh=False``
    restarts on an existing checkpoint.  Returns (query, wall seconds)."""
    from ahrd_spark.streaming.pipeline import stream_triples

    if fresh:
        shutil.rmtree(base, ignore_errors=True)
    t = time.perf_counter()
    q = stream_triples(
        spark, workload_config(spec), os.path.join(spec["inputs"], "landing"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
        trigger_once=True, max_files_per_trigger=1,
    )
    q.awaitTermination()
    return q, time.perf_counter() - t


def measure_stream(spark, spec, manifest):
    """One measured drain (its first micro-batch is the cold run), replays
    of its last micro-batch as the resume, and with tracing a traced and a
    bare drain."""
    res = {"attempted": 0, "failed": 0, "errors": []}
    n_files = manifest["n_files"]

    def run(tag):
        """One full drain; each micro-batch is a run, and a batch that is
        missing or raised counts as failed."""
        base = os.path.join(spec["work"], tag)
        try:
            q, wall = drain(spark, spec, base)
        except Exception:
            res["attempted"] += n_files
            res["failed"] += n_files
            res["errors"].append(traceback.format_exc())
            return None
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        res["attempted"] += max(len(prog), n_files)
        if len(prog) != n_files:
            res["failed"] += abs(n_files - len(prog))
            res["errors"].append(f"{tag}: {len(prog)} micro-batches, expected {n_files}")
        return {"q": q, "base": base, "wall": wall, "prog": prog}

    main = run("drain")
    if main is None:
        return res
    te = [p["durationMs"]["triggerExecution"] / 1000.0 for p in main["prog"]]
    steady = te[1:]
    traced = bare = None
    if spec["trace"]:
        # traced drain, then a bare one on the same (warm) JVM as the
        # baseline of trace.overhead
        tracer = Tracer(spark)
        tracer.install()
        gc0 = _gc_s(spark)
        try:
            traced = run("drain-traced")
        finally:
            tracer.uninstall()
        traced_gc_s = _gc_s(spark) - gc0
        bare = run("drain-bare")
        res["tracer"] = tracer

    # a restart on a fully drained checkpoint finds nothing to do and takes
    # ~15 ms, mostly the engine's polling; the stream's resume is instead
    # recovery from a crash between a micro-batch's output and its commit:
    # the restarted query re-runs that batch (overwriting its sink dir)
    resume = []
    last = main["prog"][-1]["batchId"]
    commits = os.path.join(main["base"], "ckpt", "commits")
    for k in range(1 + STREAM_RESUME_SAMPLES):
        res["attempted"] += 1
        try:
            for name in (str(last), f".{last}.crc"):
                os.remove(os.path.join(commits, name))
            wall = drain(spark, spec, main["base"], fresh=False)[1]
        except Exception:
            res["failed"] += 1
            res["errors"].append(traceback.format_exc())
            continue
        if k >= 1:
            resume.append(wall)

    state_bytes, _ = _tree_bytes(main["base"])
    res.update({
        "final_sink": os.path.join(main["base"], "sink"),
        "cold_run_s": te[0],
        "docs_per_s": manifest["n_docs"] / main["wall"],
        "resume_s": min(resume),
        "ckpt_bytes_per_input_byte": state_bytes / manifest["bytes"]["landing"],
        "batch_latency_p50_s": median(steady),
        "batch_latency_p75_s": _p75(steady),
        "samples": steady,
    })
    if traced is not None and bare is not None:
        res["layers"] = {
            "query_id": str(traced["q"].id),
            "prog": [p["durationMs"] for p in traced["prog"]],
            "bare_prog": [p["durationMs"] for p in bare["prog"]],
            "n_batches": len(traced["prog"]), "gc_s": traced_gc_s,
        }
    return res


def finish_stream_layers(layers: dict, spans: list[dict], jobs: dict) -> dict:
    """Per-layer numbers of the traced drain: micro-batch progress durations,
    plan-building spans on the stream thread, and its jobs in the event log
    (matched by query id and batch id)."""
    prog = layers["prog"]
    out = {}
    out["stream.add_batch_s"] = median([d.get("addBatch", 0) / 1000.0 for d in prog])
    out["stream.engine_s"] = median(
        [(d["triggerExecution"] - d.get("addBatch", 0)) / 1000.0 for d in prog])
    # plan spans on the stream thread, attributed to micro-batches in order
    per_batch: list[float] = []
    dm_plan, sw_plan = [], []
    for s in sorted((s for s in spans if s["thread"] != "MainThread"), key=lambda s: s["start"]):
        d = s["end"] - s["start"]
        if s["name"] == "detect_mentions":
            per_batch.append(0.0)
            dm_plan.append(d)
        if s["name"] == "select_winners_batch":
            sw_plan.append(d)
        if s["kind"] == "plan" and per_batch:
            per_batch[-1] += d
    out["stream.plan_s"] = median(per_batch)
    sel = [j for j in jobs.values() if j["query"] == layers["query_id"]]
    counts: dict = {}
    for j in sel:
        counts[j["batch"]] = counts.get(j["batch"], 0) + 1
    out["stream.jobs_per_batch"] = median(list(counts.values()))
    out["spill_bytes"] = sum(st["disk_spill_bytes"] for j in sel for st in j["ran"].values())
    out["jvm.gc_s"] = layers["gc_s"] / max(layers["n_batches"], 1)
    te = lambda ps: median([d["triggerExecution"] for d in ps])  # noqa: E731
    out["trace.overhead"] = te(prog) / te(layers["bare_prog"]) - 1.0
    out["mention_detect.plan_s"] = median(dm_plan)
    out["link_score.plan_s"] = median(sw_plan)
    return out


# -- gate -----------------------------------------------------------------
def gate(spark, spec, manifest) -> dict:
    """Correctness checks on the outputs the measured runs left behind: the
    generator's expected triple counts; for batch workloads the relational
    twin on a ~500-doc sample; for the stream, stream == batch run_pipeline
    on the landing-zone docs."""
    from pyspark.sql import functions as F

    from ahrd_spark.plans.annotate import score_candidates
    from ahrd_spark.plans.docs import docs_to_hits
    from ahrd_spark.plans.pipeline import gate_candidates_multi, run_pipeline
    from ahrd_spark.operators.scoring import select_winners
    from ahrd_spark.sources.goa import read_goa

    cfg = workload_config(spec)
    checks = {}
    docs = spark.read.parquet(os.path.join(spec["inputs"], manifest["docs_dir"]))
    if spec["workload"] == "stream_microbatch":
        triples = spark.read.parquet(spec["final_sink"]).drop("batch_id")
    else:
        triples = spark.read.parquet(os.path.join(spec["final_wd"], "materialize", "data"))

    # 1. generator's expected counts
    counts = {r["pred"]: r["count"] for r in triples.groupBy("pred").count().collect()}
    exp = manifest["expected"]
    for pred in ("hasDescription", "hasGOTerm", "hasDomain"):
        checks[f"count.{pred}"] = counts.get(pred, 0) == exp[pred]

    # 2. batch: the relational twin on ~500 docs (plus a few heavy docs,
    #    where the per-(protein, db) top-200 cap binds)
    if spec["workload"] != "stream_microbatch":
        m = max(1, manifest["n_docs"] // 500)
        h = F.abs(F.xxhash64("doc_id"))
        sample = docs.filter((h % m == 0) | ((F.size("spans") >= 600) & (h % 8 == 0)))
        hits = gate_candidates_multi(docs_to_hits(sample), cfg)
        goa = None
        if cfg.has_go:
            goa = read_goa(spark, cfg.gene_ontology_result, cfg.reference_go_regex,
                           short_accessions=hits.select("short_acc"))
        twin = select_winners(score_candidates(hits, cfg), goa=goa,
                              prefer_go=cfg.prefer_reference_with_go_annos)
        want = {
            r["protein_acc"]: (r["description"], r["db"], r["hit_acc"], r["desc_score"])
            for r in twin.select(
                "protein_acc", "description", "db", "hit_acc", "desc_score").collect()
        }
        got = {
            r["subj"]: (r["obj"], r["src_db"], r["src_hit"], r["score"])
            for r in triples.filter(F.col("pred") == "hasDescription")
            .join(sample.select(F.col("doc_id").alias("subj")), "subj", "left_semi")
            .collect()
        }
        checks["twin.sample_docs"] = len(want)
        checks["twin.equal"] = len(want) > 0 and want.keys() == got.keys() and all(
            want[k][:3] == got[k][:3] and _close(want[k][3], got[k][3]) for k in want
        )

    # 3. stream == batch over the same landing-zone docs
    if spec["workload"] == "stream_microbatch":
        wd = os.path.join(spec["work"], "gate-batch")
        shutil.rmtree(wd, ignore_errors=True)
        batch = run_pipeline(spark, docs, cfg, wd)
        cols = ["subj", "pred", "obj", "obj_kind", "src_db", "src_hit"]
        key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
        a = sorted((key(r), r["score"]) for r in triples.select(*cols, "score").collect())
        b = sorted((key(r), r["score"]) for r in batch.select(*cols, "score").collect())
        checks["stream_equals_batch"] = len(a) == len(b) and all(
            x[0] == y[0] and _close(x[1], y[1]) for x, y in zip(a, b)
        )
    ok = all(v for k, v in checks.items() if not k.startswith("twin.sample"))
    return {"ok": ok, "checks": checks, "counts": counts}


def _close(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


# -- entry ------------------------------------------------------------------
def main(argv):
    spec = json.loads(argv[1])

    with open(os.path.join(spec["inputs"], "manifest.json")) as fh:
        manifest = json.load(fh)
    out: dict = {}
    event_log = None
    if spec["trace"]:
        event_log = os.path.join(spec["work"], "eventlog")
        shutil.rmtree(event_log, ignore_errors=True)
    rss = PeakRss()
    with rss:
        spark, out["setup_s"], out["get_spark_s"] = start_session(spec, event_log)
        jvm = spark._jvm.java.lang.System
        out["versions"] = {"spark": spark.version,
                           "java": jvm.getProperty("java.version")}
        fn = measure_stream if spec["workload"] == "stream_microbatch" else measure_batch
        res = fn(spark, spec, manifest)
        tracer = res.pop("tracer", None)
        out.update(res)
    out["peak_rss_mb"] = rss.mb
    t = time.time()
    out["phase_s"] = {"measure": t - spec["t_spawn"]}
    # the gate runs after the measured part, on what it left on disk
    out["gate"] = gate(spark, dict(spec, **{k: out.get(k) for k in (
        "final_wd", "final_sink")}), manifest)
    out["phase_s"]["gate"] = time.time() - t
    t = time.time()
    spark.stop()
    out["phase_s"]["stop"] = time.time() - t
    if tracer is not None and out.get("layers"):
        raw = out["layers"]
        jobs = read_event_log(event_log)
        if spec["workload"] == "stream_microbatch":
            layers = finish_stream_layers(raw, tracer.spans, jobs)
        else:
            layers = finish_batch_layers(raw, tracer.spans, jobs)
        layers["session.get_spark_s"] = out["get_spark_s"]
        for it in raw.get("iterations", []):
            it.pop("root", None)
        tracer.dump(os.path.join(spec["work"], "trace.json"),
                    {"layers": layers, "jobs": {str(k): v for k, v in jobs.items()}})
        out["layers"] = layers
    out["t_end"] = time.time()
    with open(spec["out"], "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main(sys.argv)
