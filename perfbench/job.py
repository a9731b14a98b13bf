"""One benchmark run's job process: a fresh Python process and Spark JVM.

    python3 perfbench/job.py --spec SPEC.json --result RESULT.json

The spec names the workload, its inputs, a tiny warm-up day, the output
directory and whether to trace. The process starts Spark and runs the same
job on the warm-up day (both are set-up), then runs the job on the real
day, one after another, until the spec's seconds have passed, timing each
from reading the input to the TSV being written. With tracing on it runs
two plain jobs, then wraps the calls into the program's layers from here
(the program is not edited) and runs one traced job; each span's Spark
work is read from the status store.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from stages import StageLog, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def flow_day(spark, spec, cli, **_):
    cli.main(["--analysis", "flow", "--input", spec["day"], "--feedback", spec["feedback"],
              "--dupfactor", "1000", "--lda-maxiter", str(spec.get("lda_maxiter", 20)),
              "--maxresults", str(spec["top_k"]), "--output", spec["out"]])


def proxy_day(spark, spec, cli, **_):
    cli.main(["--analysis", "proxy", "--input", spec["day"], "--topdomains", spec["topdomains"],
              "--lda-maxiter", str(spec.get("lda_maxiter", 20)),
              "--maxresults", str(spec["top_k"]), "--output", spec["out"]])


def flow_rescore(spark, spec, cli, io, topics, flow, scoring):
    """Score a day with a persisted model: the scoring half of flow.run."""
    model = topics.load_model(spark, spec["model"])
    df = flow.valid_time_filter(io.read_parquet(spark, spec["day"]))
    scored = scoring.score_records(flow.featurize(df), model, "sip", "source_word",
                                   score_col="src_score", drop_unseen_docs=True)
    scored = scoring.score_records(scored, model, "dip", "destination_word",
                                   score_col="dst_score", drop_unseen_docs=True)
    scored = scored.withColumn("score", scoring.min_endpoint_score("src_score", "dst_score"))
    io.write_tsv(scoring.most_suspicious(scored, top_k=spec["top_k"]), spec["out"])


def fit_model(spark, spec, io, topics, flow, **_):
    """Fit the rescore model on a training day and persist it (not timed)."""
    result = flow.run(io.read_parquet(spark, spec["day"]), max_iter=20)
    topics.save_model(result.model, spec["model"])


JOBS = {"flow_day": flow_day, "proxy_day": proxy_day, "flow_rescore": flow_rescore,
        "fit_model": fit_model}


class _Layers:
    """Installs the traced run's wrappers over the program's layer functions
    and collects the scoring counts once the job is done."""

    def __init__(self, tracer, force_cache: bool):
        import pyspark.sql.readwriter as rw

        from oni_ml_spark import io, scoring, topics
        from oni_ml_spark.pipelines import common, flow, proxy

        self.tracer = tracer
        self.score_in = self.score_out = self.featurized = None

        def featurized(df, *a, **k):
            self.featurized = df
            if force_cache:  # pipeline.run caches this frame: build it here
                return {"transforms.rows_out": df.cache().count()}
            return None

        def corpus(counts, *a, **k):  # fit_topic_model caches its input
            return {"topics.corpus_rows": counts.cache().count()}

        def model_counts(model, *a, **k):
            v = len(model.vocabulary)
            return {"topics.n_docs": model.n_docs, "topics.vocab_size": v,
                    "topics.matrix_bytes": v * model.topic_count * 8}

        def score(fn):
            def recorded(df, *a, **k):
                out = fn(df, *a, **k)
                self.score_in = self.score_in if self.score_in is not None else df
                self.score_out = out
                return out
            return recorded

        wrap = tracer.wrap
        patches = [
            (rw.DataFrameReader, "parquet", wrap("io.read", rw.DataFrameReader.parquet)),
            (io, "write_tsv", wrap("scoring.score_write", io.write_tsv)),
            (topics, "load_model", wrap("topics.load", topics.load_model, after=model_counts)),
        ]
        for mod in (flow, proxy):
            patches.append((mod, "featurize",
                            wrap("transforms.featurize", mod.featurize, after=featurized)))
        for mod in (flow, common):
            patches.append((mod, "fit_topic_model", wrap(
                "topics.fit", mod.fit_topic_model, before=corpus, after=model_counts)))
        for mod in (flow, common, scoring):
            patches.append((mod, "score_records", score(mod.score_records)))
        for obj, name, fn in patches:
            setattr(obj, name, fn)

    def counts(self) -> dict:
        """Row counts at the scoring boundary, made after the job and before
        its cached frames are dropped."""
        out = dict(self.tracer.counts)
        if "transforms.rows_out" not in out and self.featurized is not None:
            out["transforms.rows_out"] = self.featurized.count()
        rows_in = self.score_in.count()
        rows_scored = self.score_out.count()
        out.update({"scoring.rows_in": rows_in, "scoring.rows_scored": rows_scored,
                    "scoring.kept_ratio": rows_scored / rows_in if rows_in else 0.0,
                    "spark.skipped_stage_ratio": self.tracer.skipped_ratio()})
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spec", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    with open(args.spec) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    from oni_ml_spark import cli, io, scoring, session, topics
    from oni_ml_spark.pipelines import flow

    def run(job: dict, after=None) -> float:
        start = time.perf_counter()
        JOBS[job["job"]](spark, job, cli=cli, io=io, topics=topics, flow=flow, scoring=scoring)
        took = time.perf_counter() - start
        if after is not None:
            after()
        # frames the job cached must not serve the next job
        spark.catalog.clearCache()
        return took

    t0 = time.time()
    spark = session.get_spark(f"perfbench_{spec['job']}")
    if spec.get("warmup"):
        # the same job on a tiny day: class loading, code generation and JIT
        # warm-up are set-up, not job
        run(dict(spec, **spec["warmup"]))
    ready = time.time()
    result = {"ready": ready, "jobs": []}
    if spec["job"] == "fit_model":
        run(spec)
        spark.stop()
        with open(args.result, "w") as fh:
            json.dump(result, fh)
        return 0
    setup_stages = StageLog(spark, high=-1).new_stages() if spec["trace"] else None

    # the TSV has no header: record its column names for the output check
    columns: list[str] = []
    write_tsv = io.write_tsv

    def write_recorded(df, *a, **k):
        columns[:] = df.columns
        return write_tsv(df, *a, **k)

    io.write_tsv = write_recorded

    def timed(after=None) -> None:
        job = dict(spec, out=f"{spec['out']}-{len(result['jobs']) + 1}")
        result["jobs"].append({"job_s": run(job, after), "out": job["out"],
                               "columns": list(columns)})

    # closed loop: the next job starts when the previous one has ended. A
    # traced run times two plain jobs first, so that the traced job is
    # compared with a plain job as warm as itself.
    loop_start = time.time()
    timed()
    while (time.time() - loop_start < spec["seconds"]
           or (spec["trace"] and len(result["jobs"]) < 2)):
        longest = max(j["job_s"] for j in result["jobs"])
        if time.time() + 1.3 * longest > spec["deadline"]:
            break
        timed()
    if spec["trace"]:
        tracer = Tracer(StageLog(spark), int(os.environ["SPARK_GRAFT_CPUS"]))
        tracer.add("session.start", setup_stages, t0 * 1000.0, ready * 1000.0)
        layers = _Layers(tracer, force_cache=spec["job"] != "flow_rescore")
        timed(after=lambda: result.update(counts=layers.counts()))
        result["spans"] = tracer.spans
    jvm_pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
    result["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    spark.stop()
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
