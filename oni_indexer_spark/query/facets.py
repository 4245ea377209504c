"""Facet counts + filter queries (Solr facet semantics, SURVEY.md §2.C8-C10).

The reference derives facet fields from its field config
(``lib/ROCrateIndexer.js:111-114``, names ``{Type}_{field}_facet[multi]``)
and the portal requests facet counts with limit 5 by default
(``config.json:30-32``, ``oni-indexer.js:558-614``). Counts here are
ordinary hash aggregations; Catalyst's partial aggregation makes them one
small shuffle, and exact-match drill-down filters push down to the
parquet/Iceberg scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def facet_counts(
    df: DataFrame, field: str, limit: int = 5, multi: bool = False
) -> DataFrame:
    """Top-N facet values by count: ``(value, count)``, ties broken by
    value asc (deterministic, oracle-matchable). ``multi=True`` explodes
    array-valued facet columns (Solr ``*_facetmulti``)."""
    col = F.explode(F.col(field)) if multi else F.col(field)
    return (
        df.select(col.alias("value"))
        .where(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(limit)
    )


def filter_query(df: DataFrame, filters: dict[str, str]) -> DataFrame:
    """Solr ``fq`` drill-down: conjunction of exact matches (C9)."""
    out = df
    for c, v in filters.items():
        out = out.where(F.col(c) == v)
    return out


def id_lookup(df: DataFrame, doc_id: int) -> DataFrame:
    """Exact-id record view (C10) — min/max + bloom skipping at scale."""
    return df.where(F.col("doc_id") == doc_id)


def facet_range(
    df: DataFrame,
    field: str,
    start,
    end,
    gap,
    mincount: int = 0,
) -> DataFrame:
    """Solr ``facet.range``: histogram of ``field`` over ``[start, end)``
    in ``gap``-wide buckets — ``(bucket_start, count)``, every bucket
    present (Solr's default ``mincount=0``; raise it to drop empties).
    Values outside the window are excluded (Solr's default
    ``other=none``).

    Scale shape: bucket assignment is one codegen'd expression
    (``floor((v - start) / gap)``), counts are one partial-aggregated
    groupBy over at most ``(end-start)/gap`` distinct keys, and the
    zero-fill joins a DRIVER-BUILT bucket list (the bucket count is a
    query parameter, never data-sized) broadcast against the counts."""
    if gap <= 0 or end <= start:
        raise ValueError("facet_range needs gap > 0 and end > start")
    n_buckets = int(math.ceil((end - start) / gap))
    spark = df.sparkSession
    buckets = spark.range(int(n_buckets)).select(
        (F.lit(start) + F.col("id") * F.lit(gap)).alias("bucket_start")
    )
    v = F.col(field)
    counts = (
        df.where(v.isNotNull() & (v >= F.lit(start)) & (v < F.lit(end)))
        .select(
            (F.lit(start) + F.floor((v - F.lit(start)) / F.lit(gap)) * F.lit(gap))
            .alias("bucket_start")
        )
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    out = (
        buckets.join(F.broadcast(counts), "bucket_start", "left")
        .select(
            "bucket_start",
            F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("count"),
        )
    )
    if mincount:
        out = out.where(F.col("count") >= mincount)
    return out.orderBy("bucket_start")


def field_stats(df: DataFrame, field: str) -> DataFrame:
    """Solr ``stats`` component over a numeric field: one row
    ``(count, missing, min, max, sum, mean)`` — count/missing follow
    Solr (count = non-null values, missing = docs without a value);
    one scan, one partial-aggregated reduce, no shuffle wider than the
    final 1-row combine."""
    v = F.col(field)
    return df.agg(
        F.count(v).alias("count"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).cast("long").alias("missing"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.sum(v).alias("sum"),
        F.avg(v).alias("mean"),
    )


def query_facet_counts(
    tables,
    query: str,
    field: str,
    limit: int = 5,
    mode: str = "or",
    fq: dict | None = None,
) -> DataFrame:
    """Facet counts over the CURRENT QUERY's result set — Solr's actual
    facet semantics (the portal shows per-facet counts for the live
    search, not the whole corpus: ``facet=true&facet.field=...`` rides
    the ``q``/``fq``). Returns ``(value, count)`` top-N by (count desc,
    value asc).

    Scale shape: the match set (doc_id only — scores are irrelevant to
    counts) semi-joins doclen for the facet column, then one
    partial-aggregated groupBy over facet-value cardinality; the match
    set never leaves the cluster."""
    from oni_indexer_spark.query.bm25 import searcher_for
    from oni_indexer_spark.query.paging import _full_scores

    s = searcher_for(tables)
    scored = _full_scores(s, query, mode, fq, 0)
    spark = tables.doclen.sparkSession
    if scored is None:
        from oni_indexer_spark.query.bm25 import _empty_literal

        return _empty_literal(spark, "value string, count long")
    matched = tables.doclen.join(
        scored.select("doc_id"), "doc_id", "left_semi"
    )
    return (
        matched.select(F.col(field).alias("value"))
        .where(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(limit)
    )


def facet_stats(
    df: DataFrame, by: str, stat_field: str, limit: int = 10
) -> DataFrame:
    """Solr JSON Facet API nested aggregation (``json.facet={categories:
    {terms: {field: by, facet: {avg_x: "avg(x)", ...}}}}``): per facet
    bucket, count + min/max/sum/avg of a numeric field — top-N buckets
    by (count desc, value asc). One partial-aggregated groupBy; all six
    aggregates ride the same shuffle."""
    v = F.col(stat_field)
    return (
        df.where(F.col(by).isNotNull())
        .groupBy(F.col(by).alias("value"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("count"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            F.sum(v).cast("long").alias("sum"),
            F.avg(v).alias("mean"),
        )
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(limit)
    )


def facet_pivot(
    df: DataFrame,
    parent: str,
    child: str,
    limit: int = 5,
    sublimit: int = 3,
) -> DataFrame:
    """Solr ``facet.pivot=parent,child``: hierarchical value counts —
    top-``limit`` parent values by doc count, and per parent the
    top-``sublimit`` child values counted WITHIN that parent's docs
    (the portal's two-level drill-down; the reference exposes exactly
    this shape through its facet field config,
    ``lib/ROCrateIndexer.js:111-114`` + portal ``facetDefaults``,
    ``config.json:30-32``). Flat relational form of Solr's nested JSON:
    ``(parent, parent_count, child, child_count)``.

    Scale shape: one partial-aggregated groupBy per level; the parent
    top-N (≤ ``limit`` rows) broadcasts into a semi-join that bounds the
    second groupBy to the surviving parents, and the per-parent rank
    window runs over already-aggregated counts (rows = surviving parent
    x child cardinality, not docs). No doc-sized shuffle survives the
    first aggregation."""
    from pyspark.sql import Window as W

    base = df.select(F.col(parent).alias("parent"), F.col(child).alias("child"))
    pc = (
        base.where(F.col("parent").isNotNull())
        .groupBy("parent")
        .agg(F.count(F.lit(1)).cast("long").alias("parent_count"))
        .orderBy(F.desc("parent_count"), F.asc("parent"))
        .limit(limit)
    )
    cc = (
        base.where(F.col("parent").isNotNull() & F.col("child").isNotNull())
        .join(F.broadcast(pc.select("parent")), "parent", "left_semi")
        .groupBy("parent", "child")
        .agg(F.count(F.lit(1)).cast("long").alias("child_count"))
    )
    w = W.partitionBy("parent").orderBy(F.desc("child_count"), F.asc("child"))
    top_children = (
        cc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= sublimit)
        .drop("rk")
    )
    return (
        top_children.join(F.broadcast(pc), "parent")
        .select("parent", "parent_count", "child", "child_count")
        .orderBy(
            F.desc("parent_count"), F.asc("parent"),
            F.desc("child_count"), F.asc("child"),
        )
    )


def _make_facet_count_arrow(
    block_size: int,
    main_tids: list[int],
    main_all: bool,
    buckets: list[tuple[str, list[int], bool]],
    positions: bool = False,
):
    """Fused facet.query counter: consumes (tid, block_id, block_min_dl
    [, n], blob) rows hash-partitioned and sorted by block_id (every
    query term's postings for a doc-range block arrive together, same
    contract as the bm25 scorers). One numpy pass per batch of complete
    blocks builds a per-term presence mask over the dense (group ×
    block_size) slot grid, combines masks per bucket (AND/OR), and
    accumulates ``count(main_hit & bucket_hit)`` — each partition emits
    ONE tiny (name, count) partial batch. No per-doc row ever leaves
    the worker, vs the join formulation's |match set|-sized clause
    outputs + semi-join shuffle."""

    def _count(batches):
        import numpy as np
        import pyarrow as pa

        from oni_indexer_spark.index.codec import complete_blocks, read_block_rows

        acc = np.zeros(len(buckets), dtype=np.int64)

        for tb in complete_blocks(batches):
            r = read_block_rows(tb, block_size, positions)
            if r.doc_ids.size == 0:
                continue
            slot, _grp_base, n_grp = r.grid()
            n_slots = n_grp * block_size
            tid_of_post = np.repeat(r.tids, r.counts)
            masks: dict[int, "np.ndarray"] = {}

            def mask_of(t: int) -> "np.ndarray":
                m = masks.get(t)
                if m is None:
                    m = np.zeros(n_slots, dtype=bool)
                    m[slot[tid_of_post == t]] = True
                    masks[t] = m
                return m

            def combo(ts: list[int], require_all: bool) -> "np.ndarray":
                m = mask_of(ts[0]).copy()
                for t in ts[1:]:
                    if require_all:
                        m &= mask_of(t)
                    else:
                        m |= mask_of(t)
                return m

            main_m = combo(main_tids, main_all)
            for bi, (_name, btids, ball) in enumerate(buckets):
                acc[bi] += int(np.count_nonzero(main_m & combo(btids, ball)))

        yield pa.RecordBatch.from_arrays(
            [
                pa.array([name for name, _t, _a in buckets], type=pa.string()),
                pa.array(acc, type=pa.int64()),
            ],
            names=["name", "count"],
        )

    return _count


def _names_df(spark, names: list[str]) -> DataFrame:
    """Literal VALUES name list (LocalRelation — no parallelize job)."""
    return spark.sql(
        "SELECT name FROM VALUES %s AS t(name)"
        % ",".join(
            "('%s')" % n.replace("\\", "\\\\").replace("'", "\\'")
            for n in names
        )
    )


def facet_query(
    tables,
    query: str,
    named: dict[str, str],
    mode: str = "or",
    sub_mode: str = "or",
) -> DataFrame:
    """Solr ``facet.query``: named sub-query counts over the CURRENT
    query's result set (``facet.query=lang:en``-style arbitrary-query
    buckets riding ``q``, ``oni-indexer.js`` portal facet block). For
    each ``name -> term query`` in ``named``, counts how many docs match
    BOTH the main query and the sub-query. Returns ``(name, count)``
    ordered by name.

    Scale shape (fused single-pass, r5 VERDICT #4): counts need only
    per-doc term-PRESENCE, never scores — so the union of all involved
    terms' postings is decoded ONCE (bucket/tid-pruned scan → one
    block_id repartition, the bm25 scorer shape) and a numpy presence-
    mask pass counts every bucket inside the worker; each partition
    emits B partial counts, one tiny groupBy(name) sums them, and
    missing buckets zero-fill from the driver-built name list. Nothing
    doc-sized ever leaves the workers — vs the previous formulation's
    per-clause |match set|-sized outputs + semi-joins (measured 1M:
    4.6s r5 → see OPTIMIZATION_r06.md)."""
    from oni_indexer_spark.analyzer import query_terms
    from oni_indexer_spark.hashing import xxhash64_str
    from oni_indexer_spark.query.bm25 import (
        _block_rows,
        _buckets_for,
        _colocate_blocks,
        searcher_for,
    )

    s = searcher_for(tables)
    spark = tables.doclen.sparkSession
    names = sorted(named)
    if not names:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS name, CAST(NULL AS BIGINT) AS count "
            "WHERE 1=0"
        )
    names_df = _names_df(spark, names)
    zero = names_df.select(
        "name", F.lit(0).cast("long").alias("count")
    ).orderBy(F.asc("name"))
    cfg = tables.cfg

    s._check_external_staleness()
    main_terms = query_terms(query, cfg.analyzer)
    main_dfs = s.term_dfs(main_terms) if main_terms else {}
    if not main_dfs or (mode == "and" and len(main_dfs) < len(main_terms)):
        return zero
    # mode="or": absent terms contribute nothing; "and": all present
    main_present = [t for t in main_terms if t in main_dfs]
    buckets: list[tuple[str, list[int], bool]] = []
    scan_terms: set[str] = set(main_present)
    for name in names:
        ts = query_terms(named[name], cfg.analyzer)
        ds = s.term_dfs(ts) if ts else {}
        if not ds or (sub_mode == "and" and len(ds) < len(ts)):
            continue  # bucket count 0 via the zero-fill
        present = [t for t in ts if t in ds]
        buckets.append(
            (name, [xxhash64_str(t) for t in present], sub_mode == "and")
        )
        scan_terms.update(present)
    if not buckets:
        return zero
    terms = sorted(scan_terms)
    est = sum(s.term_dfs(terms).values())
    fq_buckets = _buckets_for(tables, terms)
    p = tables.postings.where(
        F.col("bucket").isin(fq_buckets)
        & F.col("tid").isin([xxhash64_str(t) for t in terms])
    )
    n_docs, avgdl = s.stats()
    co = _colocate_blocks(
        _block_rows(p, cfg), est,
        int(n_docs * avgdl * len(fq_buckets) / cfg.n_buckets),
    )
    partials = co.mapInArrow(
        _make_facet_count_arrow(
            cfg.block_size,
            [xxhash64_str(t) for t in main_present],
            mode == "and",
            buckets,
            positions=cfg.positions,
        ),
        "name string, count long",
    )
    counts = partials.groupBy("name").agg(
        F.sum("count").cast("long").alias("count")
    )
    return (
        names_df.join(F.broadcast(counts), "name", "left")
        .select(
            "name", F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("count")
        )
        .orderBy(F.asc("name"))
    )
