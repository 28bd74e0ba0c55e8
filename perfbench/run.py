"""Benchmark of the docs->triples engine (``run_pipeline``, ``stream_triples``).

    python3 perfbench/run.py --workload lexical_batch --seed 1 --seconds 15 --trace 0

Run from the repository root.  Workloads (one driver process on
local[min(nproc, 4)], one job in flight at a time -- a closed loop):

- ``lexical_batch``      run_pipeline with no GOA/InterPro/synonyms: the
  production CLI hot path (mention_detect + the grouped, shuffle-free
  link_score; canonicalize is skipped).
- ``enriched_batch``     run_pipeline with GOA + GO preference (the shuffled
  scorer path), a 2,000-entry InterPro dictionary 6 levels deep, 3 domain
  hits per doc and GO synonym edges: the canonicalize operators dominate.
- ``stream_microbatch``  stream_triples draining a 20-file landing zone with
  availableNow and one file per trigger: per-micro-batch fixed costs.

A run generates its inputs from ``--seed`` (``gen.py``, cached per seed
under ``perfbench/.cache``), then starts one fresh process (``measure.py``)
that sets up, measures, and then checks the outputs its runs left on disk
(the correctness gate, outside every timed region).  With ``--trace 0`` the last stdout line carries every
end-to-end metric of ``BENCHMARK.json``; with ``--trace 1`` every per-layer
metric, from spans recorded around the engine's public functions and an
event log written under ``perfbench/.work``.  Lines before it print the same
numbers by name with units, the host, and ``failed_ratio``.

The root ``bench.py`` is not this benchmark: it times TPC-H-style graft
queries and a local[1]-vs-local[4] scaling pair tuned for a 32-vCPU host, and
never runs canonicalize or the streaming path.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_KEEP = 3  # input sets kept per workload
CHILD_TIMEOUT_S = 150


def host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(root: str) -> tuple[dict, dict]:
    """Environment every child runs under: the heap sized to the host
    (get_spark defaults to 48g), the repo on PYTHONPATH (the mapInPandas
    workers import ahrd_spark), Spark's and the temp-file scratch inside the
    checkout, and local[min(nproc, 4)] without CPU pinning."""
    cores = min(os.cpu_count() or 1, 4)
    mem_mb = host_memory_mb()
    driver_mb = max(1024, min(3072, mem_mb // 4))
    local_dirs = os.path.join(HERE, ".work", "spark-local")
    tmp = os.path.join(HERE, ".work", "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "PYTHONPATH": root,
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    # engine knobs read from the environment would change what is measured
    for k in ("OMP_NUM_THREADS", "SPARK_GRAFT_ARROW_BATCH", "AHRD_KEEP_TOKENS",
              "AHRD_ARROW_SHRED", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    host = {"nproc": os.cpu_count(), "mem_mb": mem_mb, "cores_used": cores,
            "driver_memory": env["SPARK_DRIVER_MEMORY"],
            "python": platform.python_version()}
    return env, host


def inputs_for(workload: str, seed: int, env: dict) -> str:
    """Generated inputs of (workload, seed), built once and cached; only the
    CACHE_KEEP most recently used sets per workload are kept."""
    cache = os.path.join(HERE, ".cache")
    path = os.path.join(cache, f"{workload}-seed{seed}")
    if not os.path.exists(os.path.join(path, "manifest.json")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--out", path],
            env=env, check=True, stdout=subprocess.DEVNULL, timeout=120,
        )
    os.utime(path)
    sets = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache) if d.startswith(workload + "-seed")),
        key=os.path.getmtime,
    )
    for old in sets[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def run_child(spec: dict, env: dict, log_path: str) -> dict:
    """One fresh process (own session, so its JVM and Python workers can be
    reaped as a group); returns its JSON result."""
    spec = dict(spec, out=os.path.join(spec["work"], "measure.json"))
    if os.path.exists(spec["out"]):
        os.remove(spec["out"])
    spec["t_spawn"] = time.time()
    with open(log_path, "a") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measure.py"), json.dumps(spec)],
            env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(proc)
    if code != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"measure process failed (exit {code}); log tail:\n{tail}")
    with open(spec["out"]) as fh:
        return json.load(fh)


def _reap_group(proc: subprocess.Popen):
    """Stop whatever is left of the child's process group and wait until
    every member has ended."""
    pgid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.05)
        if not _group_alive(pgid):
            break
    proc.wait()


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="docs->triples benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ahrd_spark")):
        print("perfbench: no ahrd_spark package in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {w["name"] for w in bench["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import metrics

    env, host = pin_environment(root)
    inputs = inputs_for(args.workload, args.seed, env)
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(work, "children.log")
    spec = {"workload": args.workload, "seed": args.seed, "inputs": inputs,
            "work": work, "seconds": args.seconds, "trace": args.trace,
            "cores": host["cores_used"]}
    t = time.time()
    measured = run_child(spec, env, log_path)
    walls = {"measure": time.time() - t, "exit": time.time() - measured["t_end"]}
    walls |= {f"measure.{k}": v for k, v in measured["phase_s"].items()}
    checked = measured["gate"]

    attempted = measured["attempted"]
    failed = measured["failed"] if checked["ok"] else attempted
    for err in measured["errors"]:
        print(err, file=sys.stderr)
    if not checked["ok"]:
        print(f"perfbench: correctness gate failed: {checked['checks']}", file=sys.stderr)

    if args.trace:
        specs = bench["per_layer"]
        values = measured["layers"]
        for m in specs:
            values.setdefault(m["name"], 0.0)
    else:
        specs = bench["end_to_end"]
        values = {m["name"]: measured[m["name"]] for m in specs}

    versions = measured["versions"]
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={host['nproc']} mem_mb={host['mem_mb']} "
          f"master=local[{host['cores_used']}] driver_memory={host['driver_memory']} "
          f"spark={versions['spark']} java={versions['java']} python={host['python']}")
    print(f"# gate: {json.dumps(checked['checks'])}")
    print("# wall s: " + " ".join(f"{k}={v:.1f}" for k, v in walls.items()))
    for m in specs:
        line = (f"{m['name']:<34} {values[m['name']]:>16.6f} {m['unit']:<6} "
                f"({m['better']} is better)")
        if args.trace:
            layer, moves, where = metrics.PER_LAYER[m["name"]]
            line += f"  [{layer}] -> {moves} on {','.join(where)}"
        else:
            line += f"  {metrics.END_TO_END[m['name']]}"
        print(line)
    print(f"{'failed_ratio':<34} {failed / attempted:>16.6f} ratio  "
          f"({failed} of {attempted} runs)")
    result = {
        "correct": failed == 0 and checked["ok"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
