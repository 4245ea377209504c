"""Isolated probes: Spark floors, analyzer and codec rates, process-tree
RSS and directory listings."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import numpy as np


def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _identity_arrow():
    # a nested function is pickled by value, so workers need no import
    def ident(batches):
        yield from batches

    return ident


def spark_floors(spark, reps: int = 2) -> dict[str, float]:
    """Fixed Spark costs on this host, timed after one untimed call each:
    a JVM-only job, a 4-task mapInArrow job, a coalesce(1) mapInArrow job
    and the collect of a literal LocalRelation."""
    from pyspark.sql import functions as F

    def jvm():
        spark.range(0, 4096, 1, 4).agg(F.sum("id")).collect()

    def arrow():
        spark.range(0, 4096, 1, 4).mapInArrow(_identity_arrow(), "id long").agg(F.count("id")).collect()

    def arrow1():
        (spark.range(0, 4096, 1, 4).coalesce(1).mapInArrow(_identity_arrow(), "id long")
         .agg(F.count("id")).collect())

    def local():
        spark.sql("SELECT CAST(NULL AS BIGINT) AS x WHERE 1=0").collect()

    out = {}
    for name, fn in (("floor.jvm_job_s", jvm), ("floor.mapinarrow_job_s", arrow),
                     ("floor.coalesce1_mapinarrow_s", arrow1),
                     ("floor.local_relation_collect_s", local)):
        fn()
        out[name] = _median_time(fn, reps)
    return out


def analyzer_rates(spark, docs_path: str, want_tokens: int, reps: int = 3) -> tuple[dict, int]:
    """Tokens/s of a count job over the corpus through the JVM tokenizer
    (``tokens_col``) and the Arrow UDF (``tokens_pandas``). Returns the
    rates and how many of the 2 token counts differ from the generator's."""
    from pyspark.sql import functions as F

    from oni_indexer_spark.analyzer import tokens_col, tokens_pandas

    df = spark.read.parquet(docs_path)
    out, wrong = {}, 0
    for name, tok in (("analyzer.jvm_tokens_per_s", tokens_col),
                      ("analyzer.arrow_tokens_per_s", tokens_pandas)):
        counts = []

        def job():
            counts.append(df.select(F.sum(F.size(tok("content")))).collect()[0][0])

        t = _median_time(job, reps)
        out[name] = want_tokens / t
        wrong += int(any(c != want_tokens for c in counts))
    return out, wrong


def codec_rates(index_path: str, min_s: float = 0.3) -> tuple[dict, int]:
    """Single-core encode/decode rates of the codec over the index's own
    postings blobs, bytes per posting, and whether re-encoding the decoded
    postings reproduced every blob (0 = yes)."""
    import pyarrow.dataset as ds

    from oni_indexer_spark.index import codec

    with open(os.path.join(index_path, "_lineage", "meta.json")) as fh:
        meta = json.load(fh)
    positional = meta.get("format") == 5
    t = ds.dataset(os.path.join(index_path, "postings"), format="parquet",
                   partitioning="hive").to_table(columns=["block_id", "block_min_dl", "n", "blob"])
    blobs = t.column("blob").to_pylist()
    ns = t.column("n").to_numpy().astype(np.int64)
    base_docs = t.column("block_id").to_numpy().astype(np.int64) * int(meta["block_size"])
    base_dls = t.column("block_min_dl").to_numpy().astype(np.int64)
    n_post = int(ns.sum())

    if positional:
        def decode():
            return codec.decode_postings_pos_flat(blobs, ns, base_docs, base_dls)

        def encode(d):
            return codec.encode_postings_pos_flat(d[0], d[1], d[2], d[4], d[3], base_docs, base_dls)
    else:
        def decode():
            return codec.decode_postings_flat(blobs, base_docs, base_dls)

        def encode(d):
            return codec.encode_postings_flat(d[0], d[1], d[2], d[3], base_docs, base_dls)

    decoded = decode()
    wrong = int(encode(decoded) != blobs)

    def rate(fn) -> float:
        runs = []
        for _ in range(3):
            n, t0 = 0, time.perf_counter()
            while True:
                fn()
                n += 1
                el = time.perf_counter() - t0
                if el >= min_s / 3:
                    break
            runs.append(n * n_post / el)
        return statistics.median(runs)

    return {
        "codec.decode_postings_per_s": rate(decode),
        "codec.encode_postings_per_s": rate(lambda: encode(decoded)),
        "codec.bytes_per_posting": sum(len(b) for b in blobs) / n_post,
    }, wrong


def listing(root: str) -> dict[str, int]:
    """relative path -> size of every file below ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM, Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        me = os.getpid()
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(name)] = int(stat[stat.rfind(")") + 2 :].split()[1])
        tree, grew = {me}, True
        while grew:
            grew = False
            for pid, pp in parent.items():
                if pp in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def sample(self) -> None:
        self.peak = max(self.peak, self._tree_rss())

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()
