"""Self-test of the benchmark at smoke size.

    python3 -m pytest perfbench -q

- the generator-count reference agrees with the DuckDB oracle builders;
- a run prints exactly the metric names and units BENCHMARK.json declares
  (end-to-end untraced, per-layer traced);
- a planted wrong answer is counted in ``failed`` and the error rate;
- a known engine defect found by this benchmark stays visible.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import queries as Q  # noqa: E402
from reference import Reference, same_answer  # noqa: E402


def _duckdb_answer(con, q: Q.Query, ref: Reference):
    from oni_indexer_spark import oracle as O

    if q.call == "prefix":
        n_exp = sum(1 for t in ref.live_terms() if t.startswith(q.terms[0]))
        sql = O.bm25_prefix_topk_sql(q.terms[0], k=q.k, text_col="content",
                                     rewrite="scoring" if min(n_exp, 128) <= 16 else "constant")
    elif q.call == "search":
        sql = O.boolean_query_sql(q.text, k=q.k, text_col="content")
    elif q.mode == "phrase":
        sql = O.bm25_phrase_topk_sql(q.text, k=q.k, text_col="content")
    else:
        sql = O.bm25_topk_sql(q.text, k=q.k, mode=q.mode, fq_lang=q.fq_lang, text_col="content")
    return [(int(d), float(s)) for _, d, s in con.execute(sql).fetchall()]


@pytest.mark.parametrize("spec", [dataclasses.replace(gen.SMALL, n_docs=800), gen.large_spec(400)],
                         ids=["small", "long"])
def test_reference_matches_duckdb(tmp_path, spec):
    duckdb = pytest.importorskip("duckdb")
    rng = np.random.default_rng(7)
    vocab = gen.Vocab(spec)
    docs = gen.make_docs(spec, rng, np.arange(spec.n_docs))
    path = str(tmp_path / "docs.parquet")
    gen.write_parquet(docs, vocab, path)
    ref = Reference(vocab)
    ref.add(docs)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    if spec.mid_size:
        mix = Q.LargeMix(rng, vocab, docs)
        qs = mix.next_pass() + mix.next_pass()
    else:
        qs = Q.small_mix(rng, vocab, docs)
    for q in qs:
        want = _duckdb_answer(con, q, ref)
        assert same_answer(ref.answer(q), want), (q, ref.answer(q)[:3], want[:3])


def test_same_answer_rejects_wrong_answers():
    want = [(3, 2.0), (1, 1.5), (7, 1.5)]
    assert same_answer(want, want)
    assert same_answer([(3, 2.0), (1, 1.5), (9, 1.5)], want)  # tie at the cut
    assert not same_answer([(3, 2.0), (1, 1.5)], want)
    assert not same_answer([(3, 2.0), (1, 1.4), (7, 1.5)], want)
    assert not same_answer([(3, 2.0), (9, 1.4), (7, 1.5)], want)
    assert not same_answer([(3, 2.0), (3, 1.5), (7, 1.5)], want)


# The child registers a 300-doc workload and plants one wrong reference
# answer (the single_hot family) before running the real command line.
_CHILD = """
import dataclasses, sys
sys.path.insert(0, {here!r})
import gen, reference, run
run.WORKLOADS["smoke"] = run.Workload(dataclasses.replace(gen.SMALL, n_docs=300), positions=True)
real = reference.Reference.answer
def planted(self, q):
    ans = real(self, q)
    return [(d, s + 1.0) for d, s in ans] if q.family == "single_hot" else ans
reference.Reference.answer = planted
sys.exit(run.main(["--workload", "smoke", "--seed", "5", "--seconds", "0", "--trace", "{trace}"]))
"""


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_metrics_and_planted_error(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["end_to_end" if trace == 0 else "per_layer"]
    out = subprocess.run([sys.executable, "-c", _CHILD.format(here=HERE, trace=trace)],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    # one planted single_hot error per pass: warm-up, timed and, traced,
    # the un-instrumented overhead pass
    assert result["failed"] == 2 + trace and not result["correct"]
    assert result["attempted"] >= 24
    assert detail["error_rate"] == pytest.approx(result["failed"] / result["attempted"])
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_empty_checkout_fails_without_result(tmp_path):
    """With only BENCHMARK.json and the benchmark directory present, the
    command exits non-zero and prints no result line."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search_5k", "--seed",
                          "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path,
                         capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


@pytest.mark.xfail(strict=True, reason="engine defect: delete_docs after append_to_index "
                   "subtracts each deleted doc's terms from dfreq twice")
def test_delete_after_append_keeps_dfreq_exact(tmp_path):
    """Build, append fresh ids, delete three base docs: every term's df
    must equal the number of live docs that contain it."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from pyspark.sql import functions as F

    from oni_indexer_spark.index import append_to_index, build_to_path, delete_docs, read_index
    from oni_indexer_spark.session import get_spark

    spec = dataclasses.replace(gen.SMALL, n_docs=300)
    rng = np.random.default_rng(0)
    vocab = gen.Vocab(spec)
    base = gen.make_docs(spec, rng, np.arange(300))
    extra = gen.make_docs(spec, rng, np.arange(300, 310))
    gen.write_parquet(base, vocab, str(tmp_path / "base.parquet"))
    gen.write_parquet(extra, vocab, str(tmp_path / "extra.parquet"))
    ref = Reference(vocab)
    ref.add(base)
    ref.add(extra)
    ref.delete([3, 50, 120])
    idx = str(tmp_path / "index")
    spark = get_spark()
    try:
        build_to_path(spark.read.parquet(str(tmp_path / "base.parquet")), idx)
        append_to_index(spark.read.parquet(str(tmp_path / "extra.parquet")), idx)
        delete_docs(idx, spark, doc_ids=[3, 50, 120])
        rows = (read_index(spark, idx).dfreq.groupBy("term").agg(F.sum("df").alias("df"))
                .collect())
    finally:
        spark.stop()
    assert {r["term"]: r["df"] for r in rows if r["df"]} == ref.live_terms()
