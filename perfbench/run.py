"""Benchmark of the daily suspicious-connects job.

    python3 perfbench/run.py --workload flow_day --seed 1 --seconds 10 --trace 0

Closed loop, one client: a run starts one fresh job process (Python and a
Spark JVM, as a spark-submit would), which warms up on a tiny day and then
runs the job one after another until ``--seconds`` have passed. Inputs are
generated from ``--seed`` and cached under ``.perfbench_work/`` in the
checkout; generation and the rescore model fit are not timed.

``--trace 0`` prints the end-to-end metrics (medians over the jobs of the
run). ``--trace 1`` runs at least two plain jobs, then one traced job, and
prints the per-layer metrics of the traced one. The last line of stdout is
a JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
a readable table goes to stderr. ``--workload all`` runs every workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170.0  # a run must end within 180 s
DRIVER_MEM_MB = 3072
RESCORE_NETWORK_SEED = 7  # the rescore model's network; its days vary by seed

# sizes are set so a job takes seconds, not minutes, on 4 cores
WORKLOADS = {
    "flow_day": {"gen": "flow", "n_flows": 100_000, "n_hosts": 3000, "n_servers": 300,
                 "n_loud": 40, "n_quiet": 40, "top_k": 100},
    "proxy_day": {"gen": "proxy", "n_requests": 100_000, "n_clients": 1500,
                  "n_domains": 600, "n_loud": 40, "n_quiet": 40, "top_k": 100},
    "flow_rescore": {"gen": "flow", "n_flows": 200_000, "n_hosts": 3000, "n_servers": 300,
                     "n_loud": 100, "n_quiet": 100, "top_k": 1000, "feedback": False,
                     "network_seed": RESCORE_NETWORK_SEED,
                     "train": {"n_flows": 60_000, "seed": 1_000_003}},
}
WARMUP_SIZE = {"flow": {"n_flows": 3000, "n_loud": 5, "n_quiet": 5},
               "proxy": {"n_requests": 3000, "n_loud": 5, "n_quiet": 5}}
SPAN_NAMES = ["session.start", "io.read", "transforms.featurize", "topics.fit", "topics.load",
              "scoring.score_write"]
SPAN_UNITS = {"wall_s": "s", "driver_s": "s", "task_s": "s", "cpu_s": "s", "core_util": "ratio",
              "stages": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
              "spill_bytes": "bytes", "gc_s": "s"}
COUNT_UNITS = {"transforms.rows_out": "count", "topics.corpus_rows": "count",
               "topics.vocab_size": "count", "topics.n_docs": "count",
               "topics.matrix_bytes": "bytes", "scoring.rows_in": "count",
               "scoring.rows_scored": "count", "scoring.kept_ratio": "ratio",
               "spark.skipped_stage_ratio": "ratio", "trace.overhead_s": "s",
               "driver.peak_rss_mb": "MB"}
E2E_UNITS = {"setup_s": "s", "job_s": "s", "records_per_s": "1/s", "planted_recall": "ratio"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pinned_env() -> dict:
    """The children's environment: every core, a heap below physical RAM,
    private Spark scratch space, and no inherited Spark overrides."""
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
              "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(WORK, "tmp")
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(DRIVER_MEM_MB, ram_mb // 2)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        # no hsperfdata file in the system temp directory, from the driver
        # JVM or from the launcher JVM that builds its command line
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip(),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    })
    for d in (tmp, env["SPARK_LOCAL_DIRS"]):  # left over only by a killed run
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    return env


def _stop_group(proc: subprocess.Popen, timeout: float = 10.0) -> None:
    """Kill the job's process group (the Python process and its JVM) and
    wait until none of it is left."""
    end = time.time() + timeout
    while True:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        proc.wait()  # reap our own child, or the group never empties
        if time.time() > end:
            raise RuntimeError(f"process group {proc.pid} survived SIGKILL")
        time.sleep(0.05)


def run_child(tag: str, spec: dict, env: dict, deadline: float) -> dict:
    """Run one job process; return its result with ``setup_s``, or raise."""
    spec_path = os.path.join(WORK, "jobs", f"{tag}.spec.json")
    result_path = os.path.join(WORK, "jobs", f"{tag}.result.json")
    log_path = os.path.join(WORK, "jobs", f"{tag}.log")
    os.makedirs(os.path.dirname(spec_path), exist_ok=True)
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    if os.path.exists(result_path):
        os.remove(result_path)
    spawned = time.time()
    with open(log_path, "w") as out:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "job.py"), "--spec", spec_path,
                                 "--result", result_path], cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0:
        with open(log_path) as fh:
            tail = [ln for ln in fh.read().splitlines() if "WARN" not in ln][-15:]
        raise RuntimeError(f"{tag} {'timed out' if code is None else f'exit {code}'}:\n"
                           + "\n".join(tail))
    with open(result_path) as fh:
        result = json.load(fh)
    result["setup_s"] = result["ready"] - spawned
    return result


def _generate(name: str, tag: str, seed: int, sizes: dict) -> tuple[str, dict]:
    """Generate (or reuse) one day; return its directory and manifest."""
    import gen

    key = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    data = os.path.join(WORK, "data", f"{name}-{tag}-{key}")
    manifest_path = os.path.join(data, "planted.json")
    if not os.path.exists(manifest_path):
        parent = os.path.dirname(data)
        for old in os.listdir(parent) if os.path.isdir(parent) and tag != "warmup" else []:
            if old.startswith(name + "-") and "-warmup-" not in old:
                shutil.rmtree(os.path.join(parent, old))  # keep one seed per workload
        t = time.time()
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (gen.flow_day if WORKLOADS[name]["gen"] == "flow" else gen.proxy_day)(tmp, seed, **sizes)
        os.rename(tmp, data)
        log(f"generated {name} {tag} in {time.time() - t:.1f}s")
    with open(manifest_path) as fh:
        return data, json.load(fh)


def _inputs(data: str, manifest: dict) -> dict:
    return {"day": os.path.join(data, "day.parquet"),
            **{k: os.path.join(data, manifest[k]) for k in ("feedback", "topdomains")
               if k in manifest}}


def prepare(name: str, seed: int, env: dict) -> dict:
    """The job spec for one seed: its inputs, a tiny warm-up day of the
    same kind, and for the rescore workload the fitted model."""
    w = WORKLOADS[name]
    sizes = {k: v for k, v in w.items() if k not in ("gen", "train", "top_k")}
    data, manifest = _generate(name, str(seed), seed, sizes)
    warm_data, warm_manifest = _generate(name, "warmup", 0, dict(sizes, **WARMUP_SIZE[w["gen"]]))
    spec = {"job": name, "top_k": w["top_k"], **_inputs(data, manifest),
            # two LDA iterations warm the fit's code paths as well as twenty
            "warmup": dict(_inputs(warm_data, warm_manifest), lda_maxiter=2),
            "records": manifest["records"], "planted": manifest["planted"],
            "planted_key": manifest["planted_key"]}
    if "train" in w:
        spec["model"] = fit_rescore_model(w, env)
    return spec


def fit_rescore_model(w: dict, env: dict) -> str:
    """Fit the model the rescore workload loads, with the code under test,
    once per checkout; its time counts in no metric."""
    import gen

    tr = w["train"]
    model = os.path.join(WORK, "model", f"net{w['network_seed']}-{tr['seed']}")
    if not os.path.exists(os.path.join(model, "done")):
        t = time.time()
        day = os.path.join(WORK, "model", "train")
        shutil.rmtree(day, ignore_errors=True)
        # one loud flow per rare port: the days scored later plant flows whose
        # words the model has seen, but only once
        gen.flow_day(day, tr["seed"], tr["n_flows"], w["n_hosts"], w["n_servers"], 64, 0,
                     network_seed=w["network_seed"], feedback=False)
        run_child("fit_model", {"job": "fit_model", "trace": False, "model": model,
                                "day": os.path.join(day, "day.parquet")},
                  env, time.time() + DEADLINE_S)
        open(os.path.join(model, "done"), "w").close()
        log(f"fitted rescore model in {time.time() - t:.1f}s")
    return model


def run_workload(name: str, seed: int, seconds: float, trace: bool, env: dict,
                 t_start: float) -> dict:
    """One job process: warm-up, then jobs for `seconds` (with `trace`, at
    least two plain jobs and then a traced one); every output checked."""
    from check import CheckFailed, check, read_tsv

    spec = prepare(name, seed, env)
    deadline = t_start + DEADLINE_S
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    spec.update(trace=trace, seconds=seconds, deadline=deadline - 5.0,
                out=os.path.join(WORK, "out", name))
    try:
        res = run_child(name, spec, env, deadline)
    except (RuntimeError, OSError, ValueError) as e:
        log(f"{name} FAILED: {e}")
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    log(f"set-up {res['setup_s']:.2f}s, peak rss {res['peak_rss_mb']:.0f}MB")

    jobs, recalls, failed = res["jobs"], [], 0
    for n, j in enumerate(jobs, 1):
        try:
            recalls.append(check(read_tsv(j["out"]), j["columns"], spec["top_k"],
                                 spec["planted"], spec["planted_key"]))
        except (CheckFailed, OSError) as e:
            failed += 1
            log(f"job {n} FAILED the output check: {e}")
            continue
        log(f"job {n}{' (traced)' if trace and n == len(jobs) else ''}: "
            f"{j['job_s']:.2f}s recall {recalls[-1]:.4f}")
    correct = not failed and len(set(recalls)) == 1
    if len(set(recalls)) > 1:
        log(f"planted_recall differs between jobs of one seed: {recalls}")
    if trace:
        metrics = per_layer(res, jobs[-2], jobs[-1]) if len(jobs) >= 3 and "spans" in res else {}
    else:
        metrics = end_to_end(res, jobs, spec["records"], recalls) if recalls else {}
    return {"correct": bool(correct and metrics), "attempted": len(jobs),
            "failed": failed, "metrics": metrics}


def end_to_end(res: dict, jobs: list[dict], records: int, recalls: list[float]) -> dict:
    med = lambda k: statistics.median(j[k] for j in jobs)  # noqa: E731
    vals = {"setup_s": res["setup_s"], "job_s": med("job_s"),
            "records_per_s": statistics.median(records / j["job_s"] for j in jobs),
            "planted_recall": recalls[0]}
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def per_layer(res: dict, plain: dict, traced: dict) -> dict:
    out = {}
    for span in SPAN_NAMES:
        got = res["spans"].get(span)  # absent: the workload never calls it
        for field, unit in SPAN_UNITS.items():
            out[f"{span}.{field}"] = {"value": got[field] if got else 0, "unit": unit}
    counts = dict(res["counts"])
    counts["trace.overhead_s"] = traced["job_s"] - plain["job_s"]
    counts["driver.peak_rss_mb"] = res["peak_rss_mb"]
    for k, unit in COUNT_UNITS.items():
        out[k] = {"value": counts.get(k) or 0, "unit": unit}
    return out


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import oni_ml_spark.schemas  # noqa: F401  the program under test
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2

    env = pinned_env()
    print(json.dumps({"env": {k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE")},
        "SPARK_GRAFT_EXTRA_CONF": None, "seed": args.seed, "pyspark": pyspark.__version__,
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace}), flush=True)

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        r = run_workload(name, args.seed, args.seconds, bool(args.trace), env,
                         time.time() if args.workload == "all" else t_start)
        results[name] = r
        log(f"== {name} seed {args.seed}: check {'PASS' if r['correct'] else 'FAIL'}, "
            f"failed_ratio {r['failed']}/{r['attempted']}")
        for k, m in r["metrics"].items():
            log(f"   {k:<40} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(results if args.workload == "all" else results[names[0]]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
