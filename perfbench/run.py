#!/usr/bin/env python3
"""Benchmark runner for the index build and BM25 query engine.

    python3 perfbench/run.py --workload search_5k --seed 1 --seconds 5 --trace 0

Runs one workload in this process (one closed-loop client), checks every
timed answer against a reference the engine did not produce, and prints
one detail line (every metric, provenance) followed by the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns the Spark event log on through
the launch environment and reports the per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402
import probes  # noqa: E402
import queries as Q  # noqa: E402
from reference import Reference, same_answer  # noqa: E402
from spans import Tracer, attach_jobs, read_event_log, span_spark_metrics  # noqa: E402


@dataclass(frozen=True)
class Workload:
    spec: gen.CorpusSpec
    positions: bool


WORKLOADS = {
    "search_5k": Workload(gen.SMALL, positions=True),
    "search_long": Workload(gen.large_spec(3_000), positions=False),
}

END_TO_END = {
    "query_p50_s": "s",
    "setup_s": "s",
    "index_bytes_per_input_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    u = {"session.start_s": "s", "process.peak_rss_gb": "GB", "build.docs_per_s": "1/s"}
    for k in ("jvm_job_s", "mapinarrow_job_s", "coalesce1_mapinarrow_s", "local_relation_collect_s"):
        u[f"floor.{k}"] = "s"
    u["analyzer.jvm_tokens_per_s"] = u["analyzer.arrow_tokens_per_s"] = "1/s"
    u["codec.encode_postings_per_s"] = u["codec.decode_postings_per_s"] = "1/s"
    u["codec.bytes_per_posting"] = "B"
    for k in ("tf_stage_s", "doclen_s", "postings_s", "tid_check_s"):
        u[f"build.{k}"] = "s"
    u["build.index_files"] = "count"
    u["build.spill_bytes"] = "B"
    for g in Q.GROUP_NAMES:
        for k in ("latency_s", "plan_s", "exec_s"):
            u[f"bm25.{g}.{k}"] = "s"
        for k in ("jobs_per_query", "stages_per_query", "tasks_per_query", "plan_jobs_per_query"):
            u[f"bm25.{g}.{k}"] = "count"
    for k in ("scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "python_bytes_sent",
              "python_bytes_returned"):
        u[f"spark.{k}"] = "B"
    for k in ("shuffle_fetch_wait_s", "executor_run_s", "executor_cpu_s", "gc_s",
              "final_stage_s", "stage_overhead_s"):
        u[f"spark.{k}"] = "s"
    for layer in ("session", "analyzer", "codec", "build", "bm25", "spark"):
        u[f"self.{layer}_s"] = "s"
    u["trace.query_p50_s"] = u["trace.overhead_s"] = "s"
    u["trace.spans"] = "count"
    u["trace.event_log_bytes"] = "B"
    return u


# --- helpers ---------------------------------------------------------------

def _rows(df) -> list[tuple[int, float]]:
    rows = sorted(df.collect(), key=lambda r: r["rank"])
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def _mean(xs, default=0.0) -> float:
    return float(sum(xs) / len(xs)) if xs else default


def _du(path: str) -> int:
    return sum(probes.listing(path).values())


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for its JVM to exit; the JVM
    exits when its stdin closes and takes its Python workers with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def provenance(spark, seed: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyarrow

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "oni_indexer_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(f.encode() + fh.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        commit = ref
        p = os.path.join(ROOT, ".git", ref[5:])
        if ref.startswith("ref: ") and os.path.exists(p):
            with open(p) as fh:
                commit = fh.read().strip()
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "heap_setting": spark.conf.get("spark.driver.memory", None),
        "jvm_max_heap_gb": round(rt.maxMemory() / 2**30, 2),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "source_sha256": src.hexdigest(),
        "seed": seed,
    }


class Bench:
    """One run of one workload."""

    def __init__(self, name: str, seed: int, seconds: float, traced: bool):
        self.name, self.wl = name, WORKLOADS[name]
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(traced)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.work = os.path.join(OUT, "work", f"{name}-{seed}-{os.getpid()}")
        self.evdir = os.path.join(self.work, "eventlog")
        self.layer: dict[str, float] = {}
        self.samples: list[dict] = []  # one per timed query
        self.bare: list[float] = []  # traced run: un-instrumented latencies

    # -- bookkeeping --------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    # -- phases -------------------------------------------------------------
    def generate(self) -> None:
        spec = self.wl.spec
        self.vocab = gen.Vocab(spec)
        self.docs = gen.make_docs(spec, self.rng, np.arange(spec.n_docs))
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.content_bytes = gen.write_parquet(self.docs, self.vocab, self.docs_path)
        self.ref = Reference(self.vocab)
        self.ref.add(self.docs)
        if self.wl.spec.mid_size == 0:
            mix = Q.small_mix(self.rng, self.vocab, self.docs)
            self.next_pass = lambda: mix
        else:
            self.next_pass = Q.LargeMix(self.rng, self.vocab, self.docs).next_pass

    def setup(self) -> None:
        from oni_indexer_spark.index import IndexConfig, build_to_path, read_index
        from oni_indexer_spark.session import get_spark

        t0 = time.time()
        with self.tracer.span("session.start", "session"):
            self.spark = get_spark()
        t1 = time.time()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.idx = os.path.join(self.work, "index")
        cfg = IndexConfig(positions=True) if self.wl.positions else None
        with self.tracer.span("index.build", "build"):
            build_to_path(self.spark.read.parquet(self.docs_path), self.idx, cfg)
        t2 = time.time()
        self.tables = read_index(self.spark, self.idx)
        t3 = time.time()
        self.session_s, self.build_s, self.setup_s = t1 - t0, t2 - t1, t3 - t0
        self.layer["session.start_s"] = self.session_s
        self._lineage_spans(t1, t2)

    def _lineage_spans(self, t1: float, t2: float) -> None:
        """Per-stage build seconds from the lineage records the build wrote."""
        lin = os.path.join(self.idx, "_lineage")
        recs = []
        for f in sorted(os.listdir(lin)):
            if f.endswith(".json") and f != "meta.json":
                with open(os.path.join(lin, f)) as fh:
                    r = json.load(fh)
                if r.get("status") == "done":
                    recs.append(r)
        dur = {r["stage"]: r["finished_at"] - r["started_at"] for r in recs}
        first = min((r["started_at"] for r in recs), default=t2)
        # cache-mode builds fill the tf table before the first lineage
        # stage starts; disk-mode builds record it as ``tf_stage``
        self.layer["build.tf_stage_s"] = dur.get("tf_stage", first - t1)
        self.layer["build.doclen_s"] = dur.get("doclen", 0.0)
        self.layer["build.postings_s"] = sum(v for k, v in dur.items() if k.startswith("postings_"))
        self.layer["build.tid_check_s"] = dur.get("tid_check", 0.0)
        self.layer["build.index_files"] = sum(
            1 for p in probes.listing(os.path.join(self.idx, "postings")) if p.endswith(".parquet"))
        if self.traced:
            build = next(i for i, s in enumerate(self.tracer.spans) if s.name == "index.build")
            for r in recs:
                self.tracer.add(f"build.{r['stage']}", "build", r["started_at"], r["finished_at"], build)

    def warm_up(self) -> None:
        """One untimed pass for JVM/codegen warm-up. On search_5k it is the
        fixed mix itself, which also fills the df cache the repeated
        kinds reach anyway; on search_long it is a pass of its own fresh
        terms, so the timed terms still miss the df cache as a user's
        would."""
        for q in self.next_pass():
            self.check(same_answer(_rows(q.run(self.tables)), self.ref.answer(q)),
                       f"warm-up {q.family}: {q.text!r}")

    def timed(self) -> None:
        """Closed loop, one client: whole passes over the query mix until
        ``seconds`` of query time are spent. A traced run follows its
        first instrumented pass with one un-instrumented pass of the same
        kind; the latency difference is the tracing overhead."""
        spent, p = 0.0, 0
        while spent < self.seconds or p == 0:
            for instrument in (True, False) if self.traced and p == 0 else (self.traced,):
                mix = self.next_pass()
                want = [self.ref.answer(q) for q in mix]
                self.pass_no = p
                for q, w in zip(mix, want):
                    lat = self._one(q, w, instrument=instrument, record=instrument or not self.traced)
                    if self.traced and not instrument:
                        self.bare.append(lat)
                    else:
                        spent += lat
            p += 1
        self.passes = p

    def _one(self, q: Q.Query, want, instrument: bool, record: bool = True) -> float:
        sc = self.spark.sparkContext
        op = len(self.samples)
        gid = f"perfbench-q{op}"
        if instrument:
            sc.setJobGroup(gid, q.family)
        w0 = time.time()
        p0 = time.perf_counter()
        got = None
        try:
            df = q.run(self.tables)
            p1 = time.perf_counter()
            got = _rows(df)
            p2 = time.perf_counter()
        except Exception as e:  # a failed query counts against error_rate
            p1 = p2 = time.perf_counter()
            err = f"{q.family}: {type(e).__name__}: {e}"[:300]
        if instrument:
            sc.setLocalProperty("spark.jobGroup.id", None)
        lat = p2 - p0
        ok = got is not None and same_answer(got, want)
        self.check(ok, err if got is None else f"{q.family} wrong answer: {q.text!r}")
        if not record:
            return lat
        s = {"family": q.family, "group": q.group, "latency": lat, "plan": p1 - p0,
             "exec": p2 - p1, "gid": gid, "pass": self.pass_no}
        if instrument:
            span = self.tracer.add("query.bm25", "bm25", w0, w0 + lat, None, op=op,
                                   family=q.family)
            self.tracer.spans[span].group = gid
            self.tracer.add("bm25.plan", "bm25", w0, w0 + (p1 - p0), span, op=op)
            self.tracer.add("bm25.exec", "bm25", w0 + (p1 - p0), w0 + lat, span, op=op)
            s["span"] = span
            tr = sc.statusTracker()
            jobs = [tr.getJobInfo(j) for j in tr.getJobIdsForGroup(gid)]
            stage_infos = [tr.getStageInfo(sid) for j in jobs if j for sid in j.stageIds]
            s["jobs"], s["stages"] = len(jobs), len(stage_infos)
            s["tasks"] = sum(st.numTasks for st in stage_infos if st)
        self.samples.append(s)
        return lat

    def layer_probes(self) -> None:
        """Isolated analyzer and codec rates (traced runs only)."""
        with self.tracer.span("analyzer.probe", "analyzer"):
            rates, wrong = probes.analyzer_rates(self.spark, self.docs_path, len(self.docs.tokens))
        self.layer.update(rates)
        self.check(wrong == 0, "analyzer token count differs from the generator's")
        with self.tracer.span("codec.probe", "codec"):
            rates, wrong = probes.codec_rates(self.idx)
        self.layer.update(rates)
        self.check(wrong == 0, "codec re-encode does not reproduce the index blobs")

    # -- results ------------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        lat = [s["latency"] for s in self.samples]
        return {
            "query_p50_s": _median(lat),
            "setup_s": self.setup_s,
            "index_bytes_per_input_byte": self.index_bytes / self.content_bytes,
        }

    def per_layer(self, jobs, stages, log_bytes: int) -> dict[str, float]:
        m = dict(self.layer)
        t = self.tracer
        for g in Q.GROUP_NAMES:
            ss = [s for s in self.samples if s["group"] == g]
            m[f"bm25.{g}.latency_s"] = _median([s["latency"] for s in ss])
            m[f"bm25.{g}.plan_s"] = _median([s["plan"] for s in ss])
            m[f"bm25.{g}.exec_s"] = _median([s["exec"] for s in ss])
            m[f"bm25.{g}.jobs_per_query"] = _mean([s["jobs"] for s in ss])
            m[f"bm25.{g}.stages_per_query"] = _mean([s["stages"] for s in ss])
            m[f"bm25.{g}.tasks_per_query"] = _mean([s["tasks"] for s in ss])
            plan_jobs = []
            for s in ss:
                sp = t.spans[s["span"]]
                plan_end = sp.start + s["plan"]
                plan_jobs.append(sum(1 for j in jobs.values()
                                     if j.group == s["gid"] and j.submitted <= plan_end))
            m[f"bm25.{g}.plan_jobs_per_query"] = _mean(plan_jobs)
        per_q = [span_spark_metrics([s["span"]], t, jobs, stages) for s in self.samples]
        for key, name in (("scan", "scan_bytes"), ("sw", "shuffle_write_bytes"),
                          ("sr", "shuffle_read_bytes"), ("fw", "shuffle_fetch_wait_s"),
                          ("ps", "python_bytes_sent"), ("pr", "python_bytes_returned"),
                          ("run", "executor_run_s"), ("cpu", "executor_cpu_s"), ("gc", "gc_s"),
                          ("final", "final_stage_s")):
            m[f"spark.{name}"] = _mean([x[key] for x in per_q])
        m["spark.stage_overhead_s"] = _mean(
            [s["exec"] - x["crit"] for s, x in zip(self.samples, per_q)])
        builds = [i for i, s in enumerate(t.spans) if s.name == "index.build"]
        m["build.spill_bytes"] = span_spark_metrics(builds, t, jobs, stages)["spill"]
        selfs = t.self_times()
        for layer in ("session", "analyzer", "codec", "build", "bm25", "spark"):
            m[f"self.{layer}_s"] = sum((st for s, st in zip(t.spans, selfs) if s.layer == layer), 0.0)
        lat = [s["latency"] for s in self.samples]
        m["trace.query_p50_s"] = _median(lat)
        m["trace.overhead_s"] = _median(lat) - _median(self.bare)
        m["trace.spans"] = len(t.spans)
        m["trace.event_log_bytes"] = log_bytes
        return m

    def run(self) -> tuple[dict, dict]:
        """Returns (detail, result)."""
        os.makedirs(self.work, exist_ok=True)
        phase: dict[str, float] = {}

        def mark(name: str, t0: float) -> float:
            t1 = time.time()
            phase[name] = round(t1 - t0, 3)
            return t1

        t0 = time.time()
        self.generate()
        t = mark("generate", t0)
        with probes.RssSampler() as rss:
            try:
                self.setup()
                self.index_bytes = _du(self.idx)
                self.prov = provenance(self.spark, self.seed)
                t = mark("setup", t)
                self.warm_up()
                t = mark("warm_up", t)
                self.layer.update(probes.spark_floors(self.spark))
                t = mark("floors", t)
                self.timed()
                t = mark("timed", t)
                if self.traced:
                    self.layer_probes()
                    t = mark("layer_probes", t)
                rss.sample()
            finally:
                if getattr(self, "spark", None) is not None:
                    self.spark.stop()
                    _stop_jvm()
        mark("stop", t)
        self.layer["process.peak_rss_gb"] = rss.peak / 2**30
        self.layer["build.docs_per_s"] = self.wl.spec.n_docs / self.build_s
        e2e = self.end_to_end()
        detail = {"workload": self.name, "seed": self.seed, "trace": int(self.traced),
                  "provenance": self.prov, "end_to_end": e2e,
                  "layers": {k: v for k, v in self.layer.items() if not k.startswith(("analyzer.", "codec."))},
                  "error_rate": self.failed / self.attempted, "errors": self.errors[:20],
                  "phase_s": phase, "query_samples": len(self.samples), "passes": self.passes,
                  "pass_p50_s": [_median([s["latency"] for s in self.samples if s["pass"] == p])
                                 for p in range(self.passes)],
                  "query_p90_s": float(np.quantile([s["latency"] for s in self.samples], 0.9)),
                  "family_p50_s": {f: _median([s["latency"] for s in self.samples if s["family"] == f])
                                   for f in dict.fromkeys(s["family"] for s in self.samples)}}
        units = END_TO_END
        metrics = e2e
        if self.traced:
            jobs, stages, log_bytes = read_event_log(self.evdir)
            attach_jobs(self.tracer, jobs, stages)
            metrics = self.per_layer(jobs, stages, log_bytes)
            units = per_layer_units()
            spans_path = os.path.join(OUT, "results", f"{self.name}-{self.seed}-spans.jsonl")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            self.tracer.dump(spans_path)
            detail["spans_file"] = os.path.relpath(spans_path, ROOT)
            detail["per_layer"] = metrics
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        return detail, {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import oni_indexer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # deployment settings only: cores, Spark scratch and temp files stay
    # inside the checkout; the event log is on only for a traced run
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        os.makedirs(bench.evdir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{bench.evdir} pyspark-shell"
        )
    try:
        detail, result = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    res_dir = os.path.join(OUT, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({**detail, "result": result}, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
