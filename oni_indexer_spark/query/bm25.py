"""BM25 top-k retrieval over the materialized index.

Implements natively what the reference delegates to Solr/Lucene
(SURVEY.md §2.C4-C6): Lucene BM25 with k1=1.2, b=0.75,
``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``, free-text queries are
OR-of-terms over ``main_search`` (``config.json:38``,
``portal_base.json:18-23``); AND (intersection) is supported via the
same posting join with a match-all-terms constraint; facet drill-down
filters (Solr ``fq``) compose as metadata predicates.

Physical shape of a query (see ``.explain`` audit in tests/bench):

  scan postings WHERE bucket IN (term buckets) AND tid IN (tids)
      [directory-partition pruning + parquet row-group stats on tid]
  → [block-max prune: drop (term, block) rows that cannot reach the
     pass-1 threshold τ — lossless, tests/test_wand.py]
  → co-locate the COMPRESSED block rows by block_id (doc-range blocks
    are global, so every term's postings for a doc share one block_id):
    a single coalesced partition for tiny queries, else one
    repartition — the only shuffle
  → one numpy pass per co-located group decodes, scatter-adds exact
    per-doc totals, applies AND/τ bounds and per-batch conservative
    top-k selection — no decoded-row shuffle, no JVM hash aggregate.
    Every BM25 score (any number of terms, k-bounded or not, with or
    without fq) takes this one route (``_scores``).
  → TakeOrdered(k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oni_indexer_spark.analyzer import query_terms, tokens_col
from oni_indexer_spark.index.build import IndexConfig, IndexTables, term_bucket


def idf_expr(df_col: Column, n_docs: int) -> Column:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return F.log(1.0 + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def tfn_expr(tf: Column, dl: Column, avgdl: float, k1: float, b: float) -> Column:
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / F.lit(avgdl)))


def _block_rows(postings: DataFrame, cfg: IndexConfig) -> DataFrame:
    """The block-row columns every Arrow kernel reads
    (``codec.read_block_rows``): v5 rows add ``n``, which the positional
    stream needs to delimit itself."""
    pos_cols = ["n"] if cfg.positions else []
    return postings.select("tid", "block_id", "block_min_dl", *pos_cols, "blob")


def _make_decode_map_arrow(block_size: int, positions: bool = False):
    """mapInArrow decoder factory: one vectorized numpy pass per Arrow
    batch, emitting already-EXPLODED (tid, doc_id, tf, dl) rows — no
    pandas conversion, no JVM-side arrays_zip/explode. ``positions``
    (v5 index) adds each posting's positions as a list column — the
    shape overwrite/compaction need to re-encode a positional index
    losslessly."""

    def _decode(batches):
        import numpy as np
        import pyarrow as pa

        from oni_indexer_spark.index.codec import read_block_rows

        names = ["tid", "doc_id", "tf", "dl"] + (["positions"] if positions else [])
        for b in batches:
            r = read_block_rows(b, block_size, positions, with_positions=positions)
            cols = [
                pa.array(np.repeat(r.tids, r.counts), type=pa.int64()),
                pa.array(r.doc_ids, type=pa.int64()),
                pa.array(r.tfs, type=pa.int32()),
                pa.array(r.dls, type=pa.int32()),
            ]
            if positions:
                pos_offsets = np.concatenate(
                    ([0], np.cumsum(r.tfs.astype(np.int64)))
                ).astype(np.int32)
                cols.append(
                    pa.ListArray.from_arrays(
                        pa.array(pos_offsets), pa.array(r.pos_flat, type=pa.int32())
                    )
                )
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return _decode


def _fq_condition(col: str, v) -> Column:
    """One fq clause → a Column predicate. Solr filter-query forms
    (SURVEY.md §2.C9): a plain value is exact-match (``lang:en``); a
    ``("neq", v)`` tuple is exclusion (``-lang:en`` — NULLs excluded,
    matching SQL ``<>`` so the DuckDB oracle twin is exact); a
    ``("range", lo, hi)`` tuple is an inclusive range
    (``dl:[lo TO hi]``); an ``("all", (cond, ...))`` tuple ANDs several
    conditions on the same column (``dl:[5 TO 100] -dl:7``). All forms
    are plain comparisons on the doclen
    metadata — they push down to the parquet scan as
    EqualTo / Not(EqualTo) / GreaterThanOrEqual+LessThanOrEqual."""
    if isinstance(v, tuple):
        if v[0] == "neq":
            return F.col(col) != F.lit(v[1])
        if v[0] == "range":
            return F.col(col).between(F.lit(v[1]), F.lit(v[2]))
        if v[0] == "all":
            out = _fq_condition(col, v[1][0])
            for sub in v[1][1:]:
                out = out & _fq_condition(col, sub)
            return out
        raise ValueError(f"unknown fq op: {v[0]!r} (want 'neq', 'range' or 'all')")
    return F.col(col) == F.lit(v)


def _fq_keep(doclen: DataFrame, fq: dict) -> DataFrame:
    keep = doclen
    for c, v in fq.items():
        keep = keep.where(_fq_condition(c, v))
    return keep


def _membership_filter(allowed, doc_ids, *arrs):
    """Keep only rows whose doc_id is in the SORTED ``allowed`` array
    (binary-search membership — the worker-side form of an fq filter)."""
    import numpy as np

    if doc_ids.size == 0 or allowed.size == 0:
        empty = doc_ids[:0]
        return (empty, *[a[:0] for a in arrs])
    pos = np.searchsorted(allowed, doc_ids, side="left")
    ok = (pos < allowed.size) & (allowed[np.minimum(pos, allowed.size - 1)] == doc_ids)
    return (doc_ids[ok], *[a[ok] for a in arrs])


def _select_candidates(doc_ids, scores, k: int | None):
    """Conservative per-batch top-k candidate selection: every doc with
    score >= round(kth_batch_score, 6) - 1e-6 survives. The batch kth is
    <= the global kth, so any dropped doc rounds strictly below the
    global kth and cannot enter the final top-k even via the doc_id
    tie-break (the same rounding-grid guard as the block pruner).
    ``k=None`` keeps every doc."""
    import numpy as np

    if k is None or scores.size <= k:
        return doc_ids, scores
    kth = np.partition(scores, scores.size - k)[scores.size - k]
    keep = scores >= (np.round(kth, 6) - 1e-6)
    return doc_ids[keep], scores[keep]


def _scored_batch(doc_ids, scores):
    """(doc_id, score) output batch of every scoring kernel."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids, type=pa.int64()), pa.array(scores, type=pa.float64())],
        names=["doc_id", "score"],
    )


def _make_decode_score_group_arrow(
    block_size: int,
    idf_by_tid: dict[int, float],
    avgdl: float,
    k1: float,
    b: float,
    n_terms_and: int | None,
    k: int | None,
    floor: float | None,
    positions: bool = False,
    allowed_bc=None,
):
    """The BM25 scorer factory: rows are (tid, block_id, block_min_dl
    [, n], blob), co-located and sorted by block_id within the
    partition, so ALL query terms' postings for a given doc-range block
    arrive together (doc-range blocks are global across terms — a doc's
    block_id is doc_id // block_size for every term). One numpy pass per
    batch of complete blocks:

      decode blobs → per-posting BM25 contribution → scatter-add into a
      dense (block-group × block_size) score grid → per-doc EXACT totals
      + term-hit counts, entirely inside the Python worker.

    The only shuffle is of the COMPRESSED block rows (~2-4 B/posting vs
    ~16 B/posting for decoded rows), and per-batch candidate selection
    means a hot term's postings never leave the worker. A single term
    needs no special case: each of its docs gets exactly one addition,
    so its total IS the per-posting score.

    ``n_terms_and``: when set, keep only docs hit by exactly that many
    terms (AND mode; (tid, doc) is unique so hits == terms matched).
    ``k``: per-batch conservative top-k selection (``_select_candidates``).
    ``floor``: a PASS-1 τ (pruned path) — docs with total <
    round(τ,6)-1e-6 are dropped for the same reason (τ <= true kth).
    """

    def _decode(batches):
        import numpy as np

        from oni_indexer_spark.index.codec import complete_blocks, read_block_rows

        guard = None if floor is None else (round(floor, 6) - 1e-6)
        for tb in complete_blocks(batches):
            r = read_block_rows(tb, block_size, positions)
            idf_row = np.array([idf_by_tid[int(t)] for t in r.tids], dtype=np.float64)
            tf = r.tfs.astype(np.float64)
            dl = r.dls.astype(np.float64)
            s = np.repeat(idf_row, r.counts) * (
                (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            )
            slot, grp_base, n_grp = r.grid()
            tot = np.zeros(n_grp * block_size, dtype=np.float64)
            np.add.at(tot, slot, s)
            hits = np.zeros(n_grp * block_size, dtype=np.int32)
            np.add.at(hits, slot, 1)
            mask = (hits == n_terms_and) if n_terms_and is not None else (hits > 0)
            sel = np.nonzero(mask)[0]
            out_docs = grp_base[sel // block_size] + (sel % block_size)
            out_s = tot[sel]
            if allowed_bc is not None:
                # fq pushed into the worker: filtering BEFORE candidate
                # selection keeps the per-batch output O(k) instead of
                # ~n_docs (r4 VERDICT "what's wrong" #1)
                out_docs, out_s = _membership_filter(
                    allowed_bc.value, out_docs, out_s
                )
            if guard is not None and out_s.size:
                keep = out_s >= guard
                out_docs, out_s = out_docs[keep], out_s[keep]
            out_docs, out_s = _select_candidates(out_docs, out_s, k)
            if out_s.size:
                yield _scored_batch(out_docs, out_s)

    return _decode


def _make_decode_phrase_group_arrow(
    block_size: int,
    tid_offsets: list[tuple[int, int]],
    idf_sum: float,
    avgdl: float,
    k1: float,
    b: float,
    k: int | None,
    allowed_bc=None,
    slop: int = 0,
):
    """Phrase scorer factory (Lucene ``PhraseQuery`` semantics over the
    v5 positional blobs): rows are (tid, block_id, block_min_dl, n,
    blob), co-located and sorted by block_id like the BM25 scorer, so
    every phrase term's postings for a doc-range block arrive together.
    One numpy pass per batch of complete blocks:

      decode (with positions) → for each query offset j holding term
      t_j, form keys ``slot * P + (pos − j)`` over t_j's positions →
      a key hit by ALL m offsets is a phrase occurrence starting at
      ``pos − j`` → per-doc phrase frequency via two np.unique passes →
      ``score = (Σ_j idf(t_j)) · tfn(phraseFreq, dl)`` — Lucene scores a
      phrase exactly like a single term whose tf is the phrase count and
      whose weight is the sum of the member idfs.

    ``tid_offsets``: [(tid, offset)] for every query position (a term
    appearing twice in the phrase contributes two offsets). ``k``:
    per-batch conservative candidate selection (``_select_candidates``).

    ``slop > 0`` switches to the sloppy matcher (Solr ``"a b"~N``):
    ORDERED proximity with a TOTAL gap budget — an anchor occurrence of
    the first query token at p₀ matches iff positions p₀<p₁<…<p_{m−1}
    of the remaining tokens exist with Σ(pⱼ−pⱼ₋₁−1) ≤ slop, i.e.
    p_{m−1} − p₀ ≤ m−1+slop. phraseFreq = matching anchors. Evaluated
    with a vectorized GREEDY chain (per step, the smallest next
    position via one searchsorted over the term's sorted slot·P+pos
    keys) — greedy minimizes every pⱼ, hence the final span, so it is
    exact for this criterion. (Deliberate simplification of Lucene's
    SloppyPhraseScorer, which also counts reordered matches and weights
    each by 1/(distance+1); ordered-greedy keeps an exact DuckDB/
    brute-force oracle. slop=0 degenerates to the exact matcher and
    uses the faster key-grid path.)
    """

    def _decode(batches):
        import numpy as np

        from oni_indexer_spark.index.codec import complete_blocks, read_block_rows

        m = len(tid_offsets)

        def process(tb):
            r = read_block_rows(tb, block_size, positions=True, with_positions=True)
            doc_ids, tfs, pos_flat = r.doc_ids, r.tfs, r.pos_flat
            if doc_ids.size == 0:
                return None
            slot, grp_base, n_grp = r.grid()
            n_slots = n_grp * block_size
            slot_dl = np.zeros(n_slots, dtype=np.float64)
            slot_dl[slot] = r.dls  # same dl for every term of a doc
            # positions → their posting, term, slot
            tfs64 = tfs.astype(np.int64)
            tid_of_post = np.repeat(r.tids, r.counts)
            # doc-level presence intersection BEFORE position expansion:
            # a phrase occurrence needs every distinct term present in
            # the doc, so only slots hit by all dts.size tids can match.
            # Counting term-presence per slot costs a few bincount-style
            # passes over the POSTINGS (cheap); it shrinks the expensive
            # position-key build + np.unique from Σ tf positions to just
            # the intersected docs' positions — on hot multi-term
            # phrases the intersection is a few % of the corpus.
            dts = np.unique(np.array([t for t, _ in tid_offsets], dtype=np.int64))
            if dts.size > 1:
                pres = np.zeros(n_slots, dtype=np.int8)
                hit = np.zeros(n_slots, dtype=bool)
                for t in dts:
                    hit[:] = False
                    hit[slot[tid_of_post == t]] = True
                    pres += hit
                keep_post = pres[slot] == dts.size
                if not keep_post.any():
                    return None
            else:
                keep_post = None
            post_of_pos = np.repeat(np.arange(doc_ids.size, dtype=np.int64), tfs64)
            if keep_post is not None:
                kp = keep_post[post_of_pos]
                post_of_pos = post_of_pos[kp]
                pos_use = pos_flat[kp]
            else:
                pos_use = pos_flat
            tid_of_p = tid_of_post[post_of_pos]
            P = np.int64(int(pos_use.max()) + m + 2 + slop) if pos_use.size else np.int64(
                m + 2 + slop
            )
            if slop == 0:
                keys_parts = []
                for tid_j, j in tid_offsets:
                    pmask = tid_of_p == tid_j
                    adj = pos_use[pmask] - j
                    ok = adj >= 0  # a phrase can't start before the doc
                    keys_parts.append(slot[post_of_pos[pmask]][ok] * P + adj[ok])
                keys = np.concatenate(keys_parts) if keys_parts else np.empty(0, np.int64)
                if keys.size == 0:
                    return None
                uk, cnt = np.unique(keys, return_counts=True)
                full = uk[cnt == m]  # start positions hit by ALL offsets
                if full.size == 0:
                    return None
                hit_slots, pf = np.unique(full // P, return_counts=True)
            else:
                # greedy ordered chain: per term, sorted slot·P+pos keys;
                # per step one searchsorted finds the smallest next
                # position in the same slot, then the total-budget check
                slot_of_p = slot[post_of_pos]
                term_keys = {}
                for tid_j, _ in tid_offsets:
                    if tid_j not in term_keys:
                        pm = tid_of_p == tid_j
                        term_keys[tid_j] = np.sort(slot_of_p[pm] * P + pos_use[pm])
                t0, _ = tid_offsets[0]
                ak = term_keys[t0]
                a_slot, a_p0 = ak // P, ak % P
                cur = a_p0.copy()
                alive = np.ones(a_p0.size, dtype=bool)
                for step, (tid_j, _) in enumerate(tid_offsets[1:], 1):
                    kt = term_keys[tid_j]
                    ix = np.searchsorted(kt, a_slot * P + cur, side="right")
                    ok = alive & (ix < kt.size)
                    cand = kt[np.minimum(ix, kt.size - 1)]
                    ok &= (cand // P == a_slot) & (
                        cand % P <= a_p0 + step + slop
                    )
                    cur = np.where(ok, cand % P, cur)
                    alive = ok
                    if not alive.any():
                        return None
                hit_slots, pf = np.unique(a_slot[alive], return_counts=True)
            pff = pf.astype(np.float64)
            dl = slot_dl[hit_slots]
            s = idf_sum * ((pff * (k1 + 1.0)) / (pff + k1 * (1.0 - b + b * dl / avgdl)))
            out_docs = grp_base[hit_slots // block_size] + (hit_slots % block_size)
            if allowed_bc is not None:
                # fq pushed into the worker: filter BEFORE candidate
                # selection (same contract as the BM25 scorer)
                out_docs, s = _membership_filter(allowed_bc.value, out_docs, s)
                if out_docs.size == 0:
                    return None
            return _scored_batch(*_select_candidates(out_docs, s, k))

        for tb in complete_blocks(batches):
            out = process(tb)
            if out is not None:
                yield out

    return _decode


def _decoded(postings: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(tid, doc_id, tf, dl [, positions]) rows from block rows;
    positional indexes decode their positions list so re-encoding
    consumers (overwrite, compaction) stay lossless."""
    schema = "tid long, doc_id long, tf int, dl int"
    if cfg.positions:
        schema += ", positions array<int>"
    return _block_rows(postings, cfg).mapInArrow(
        _make_decode_map_arrow(cfg.block_size, cfg.positions), schema
    )


def _buckets_for(tables: IndexTables, terms: list[str]) -> list[int]:
    """term → bucket driver-side (pure-Python XXH64 twin of Spark's
    xxhash64, tests/test_hashing.py) — no Spark job needed."""
    from oni_indexer_spark.hashing import term_bucket_py

    return sorted({term_bucket_py(t, tables.cfg.n_buckets) for t in terms})


_EMPTY_SQL_TYPES = {
    "int": "INT",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "double": "DOUBLE",
    "string": "STRING",
}


def _empty_literal(spark, schema: str) -> DataFrame:
    """Empty DataFrame with the given simple DDL schema as a literal
    LocalRelation — NOT ``createDataFrame([], ddl)``: the latter
    parallelizes defaultParallelism empty slices, so every collect of an
    empty result ran a 32-task job (measured 0.3s at local[32] — the
    entire cost of a zero-result query); this folds to an empty
    LocalRelation and collects driver-only (~10ms). Used by every
    zero-result fallback across the query surface."""
    cols = []
    for field in schema.split(","):
        name, typ = field.strip().split()
        cols.append(f"CAST(NULL AS {_EMPTY_SQL_TYPES[typ.lower()]}) AS {name}")
    return spark.sql("SELECT " + ", ".join(cols) + " WHERE 1=0")


def _empty_result(tables: IndexTables) -> DataFrame:
    return _empty_literal(
        tables.postings.sparkSession, "rank int, doc_id long, score double"
    )


# Target decoded postings per reduce task of the block-aligned scorer.
# The numpy decode runs ~2-3M postings/s per core, so 64k postings is
# ~25ms of decode per task — enough to amortize task scheduling, small
# enough that a 2M-posting query still fans out over ~32 cores. The
# partition count is DERIVED from Σ df (known driver-side for free)
# instead of pinned to spark.sql.shuffle.partitions: a 5k-doc corpus
# gets 1-2 reduce tasks instead of 32 (32 near-empty tasks cost pure
# scheduling), while corpus-scale queries still clamp up to the
# session's shuffle width (guide §2: partitioning must be
# scale-adaptive, not tuned to either local mode or the cluster).
SCORER_POSTINGS_PER_PARTITION = 65_536

# Shuffle-free co-location crossover (guide §2.4 "remove shuffles
# outright"): when Σ df fits one scorer partition anyway (the derived
# width is 1), the block_id exchange buys nothing — the decode was
# already serial in its single reduce task — so a coalesce(1) feeds the
# kernel the identical single sorted partition while removing the
# exchange and its extra AQE stage job (~0.05-0.15s of pure scheduling
# on the measured host; interleaved A/B at 5k docs: multi-term medians
# -7-20%). A HIGHER crossover was measured and rejected: at 262k the
# coalesce also serialized decodes the old path ran 2-4-wide, and 50k-doc
# 3-4-term queries regressed ~20%. Gated ALSO on the scan side (postings
# resident in the touched buckets, estimated driver-side as
# n_docs*avgdl*buckets_touched/n_buckets): coalesce(1) collapses the
# parquet scan to one task, which must stay cheap — a rare term in a
# huge corpus keeps the parallel-scan + exchange path.
SCORER_COALESCE_MAX_POSTINGS = 65_536
SCORER_COALESCE_MAX_SCAN_POSTINGS = 2_000_000


def _scorer_nparts(spark, est_postings: int | None) -> int:
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if est_postings is None:
        return conf_parts
    return max(1, min(conf_parts, -(-int(est_postings) // SCORER_POSTINGS_PER_PARTITION)))


def _colocate_blocks(
    sel: DataFrame,
    est_postings: int | None,
    scan_est: int | None,
    nparts: int | None = None,
) -> DataFrame:
    """Arrange the compressed block rows so every doc-range block's rows
    for all query terms are contiguous (sorted) within one partition —
    the input contract of every block-aligned scorer kernel. Two plans:

    - tiny queries over small scans (both gates above): ``coalesce(1)``
      + sort — NO exchange; the kernels already tolerate a block split
      across Arrow batches (``codec.complete_blocks``), and one
      partition trivially co-locates, so this is input-identical to the
      shuffle plan while running the whole query as ONE job instead of
      two AQE stage jobs.
    - everything else: hash-repartition by block_id at the scale-adaptive
      width (see ``_scorer_nparts``; explicit ``nparts`` overrides, e.g.
      the block-max pruner's ≤k-block candidate pass).
    """
    if (
        nparts is None
        and est_postings is not None
        and est_postings <= SCORER_COALESCE_MAX_POSTINGS
        and scan_est is not None
        and scan_est <= SCORER_COALESCE_MAX_SCAN_POSTINGS
    ):
        return sel.coalesce(1).sortWithinPartitions("block_id")
    # EXPLICIT partition count: repartition(col) alone is an
    # AQE-coalescible shuffle, and the blob shuffle is only a few MB per
    # query — AQE would collapse it to ~1 post-shuffle partition and
    # serialize the decode (measured at 1M docs: 3-4-term latency went
    # linear in decoded volume).
    if nparts is None:
        nparts = _scorer_nparts(sel.sparkSession, est_postings)
    return sel.repartition(nparts, F.col("block_id")).sortWithinPartitions("block_id")


def _scores(
    postings_subset: DataFrame,
    tables: IndexTables,
    idf: dict[int, float],
    avgdl: float,
    mode: str,
    fq: dict[str, str] | None,
    k: int | None = None,
    floor: float | None = None,
    est_postings: int | None = None,
    nparts: int | None = None,
    allowed_bc=None,
    scan_est: int | None = None,
) -> DataFrame:
    """Exact (doc_id, score) for every doc present in the postings subset
    — the engine's one BM25 scoring route: block rows →
    ``_colocate_blocks`` → ``_make_decode_score_group_arrow``, for any
    number of terms. ``idf`` is keyed by tid (the postings key). ``k``
    (when given) enables per-batch conservative candidate selection — it
    must be the query's final top-k; ``k=None`` (boolean clauses,
    paging, rescore, facets) emits every matching doc's total.
    ``floor`` is the pruned path's pass-1 τ (docs provably below it
    round under the kth score and may be dropped). ``est_postings`` (Σ
    df, known driver-side for free) and ``scan_est`` size the
    co-location plan; ``nparts`` overrides the repartition width (the
    pruner's tiny candidate sets don't need the full fan-out).
    ``allowed_bc`` (a broadcast SORTED doc_id array —
    Searcher._fq_allowed) pushes a selective fq INTO the workers so
    candidate selection stays on; without it an fq disables per-batch
    selection (every matching doc's total leaves the workers) and is
    applied by a doclen semi-join afterwards."""
    cfg = tables.cfg
    fq_in_worker = fq is None or allowed_bc is not None
    co = _colocate_blocks(
        _block_rows(postings_subset, cfg), est_postings, scan_est, nparts=nparts
    )
    scored = co.mapInArrow(
        _make_decode_score_group_arrow(
            cfg.block_size,
            {int(t): float(v) for t, v in idf.items()},
            float(avgdl),
            cfg.k1,
            cfg.b,
            len(idf) if mode == "and" else None,
            # without a pushed-down filter, fq filters AFTER scoring: a
            # selected candidate set could lose its top rows to the
            # filter, so emit all doc totals; with allowed_bc the filter
            # runs in-worker BEFORE selection, so selection stays on and
            # the output is O(k · batches)
            k if fq_in_worker else None,
            floor,
            positions=cfg.positions,
            allowed_bc=allowed_bc,
        ),
        "doc_id long, score double",
    )
    if fq and allowed_bc is None:
        keep = _fq_keep(tables.doclen, fq)
        scored = scored.join(keep.select("doc_id"), "doc_id", "left_semi")
    return scored


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """Top-k with deterministic tie-break: rank on (round(score,6) desc,
    doc_id asc). Rounding first makes ranking robust to non-associative
    float summation (engine vs oracle agree bit-for-bit after round).
    Fused to 3 DataFrame ops (orderBy/limit/select) — the previous
    withColumn/window/select chain cost ~20ms of extra driver-side plan
    construction per query (py4j roundtrips dominate small-query
    latency; profiled r6)."""
    from pyspark.sql import Window as W

    order = [F.desc(F.round("score", 6)), F.asc("doc_id")]
    w = W.orderBy(*order)
    return (
        scored.orderBy(*order)
        .limit(k)
        .select(F.row_number().over(w).alias("rank"), "doc_id", "score")
    )


class Searcher:
    """Query handle over an index: caches the 1-row stats table and the
    term→df lookups so a query costs 1 Spark job on the fast path (dfreq
    probe is memoized per term; scoring+top-k is one action).

    ``prune_cost_threshold``: block-max pruning pays a pass-1 job (~0.5-1s
    fixed on the measured host); the 32-way block-aligned decode runs
    ~2-3M postings/sec, so pruning only wins once it can SKIP several
    million postings. ``prune='auto'`` therefore prunes only when
    Σ df(term) exceeds this (default 3M — at the 10^12-doc north-star
    scale every stop-word-bearing query clears it immediately).

    STALENESS: the cached stats/df describe the tables at construction.
    In-process mutators (append_to_index / overwrite_docs) call the
    module-level :func:`invalidate_searchers` hook; for OUT-OF-PROCESS
    writers (another driver appending to the same path — invisible to
    this registry) every :meth:`topk` first compares the index's
    ``_lineage`` directory listing (name/mtime/size per record — every
    mutator commits a new lineage record) against the listing memoized
    with the caches, and self-invalidates on any change (r3 VERDICT #5).
    One FileSystem.listStatus per query — driver-side, ~ms.
    """

    # an fq matching at most this many docs ships as a broadcast sorted
    # doc_id array into the scorers (8 B/doc → ≤16 MB at the default);
    # above it, the scorer emits all matching totals and a doclen
    # semi-join applies the filter (the pre-r5 behavior)
    FQ_PUSHDOWN_MAX_DOCS = 2_000_000

    # rarest-term block prefilter bound (AND/phrase queries): the
    # broadcast block list has ≤ min_df entries, so the same 16 MB
    # ceiling as fq pushdown applies
    RARE_BLOCK_MAX_DF = 2_000_000

    def __init__(self, tables: IndexTables, prune_cost_threshold: int = 3_000_000):
        self.tables = tables
        self.prune_cost_threshold = prune_cost_threshold
        self.fq_pushdown_max_docs = self.FQ_PUSHDOWN_MAX_DOCS
        self._stats: tuple[int, float] | None = None
        self._df_cache: dict[str, int] = {}
        self._fq_cache: dict[tuple, tuple[int, object]] = {}
        self._lineage_sig: tuple | None = None

    def _fq_allowed(self, fq: dict[str, str]) -> tuple[int, object]:
        """(match_count, broadcast sorted doc_id array | None) for an fq,
        memoized per filter (r4 VERDICT #4: fq selectivity is knowable
        driver-side from the doclen metadata for the cost of one count).
        The broadcast form is only built when the filter is selective
        enough to ship (≤ fq_pushdown_max_docs)."""
        key = tuple(sorted(fq.items()))
        hit = self._fq_cache.get(key)
        if hit is None:
            keep = _fq_keep(self.tables.doclen, fq)
            cnt = keep.count()
            bc = None
            if 0 < cnt <= self.fq_pushdown_max_docs:
                import numpy as np

                ids = np.sort(
                    np.array(
                        [r["doc_id"] for r in keep.select("doc_id").collect()],
                        dtype=np.int64,
                    )
                )
                bc = self.tables.doclen.sparkSession.sparkContext.broadcast(ids)
            hit = (cnt, bc)
            self._fq_cache[key] = hit
        return hit

    def _lineage_signature(self) -> tuple | None:
        if self.tables.path is None:
            return None
        from oni_indexer_spark.index.lineage import Lineage

        lin = Lineage(self.tables.stats.sparkSession, self.tables.path)
        # generation token CONTENT (unique per mutation — r4 ADVICE: a
        # same-size record rewrite inside one mtime tick is invisible to
        # the listing alone) + the listing (covers legacy indexes written
        # before the generation file existed)
        return (
            lin.read_generation(),
            tuple(sorted(lin.fs.list_status(lin.dir))),
        )

    def _check_external_staleness(self) -> None:
        if self.tables.path is None:
            return
        sig = self._lineage_signature()
        if self._lineage_sig is None:
            self._lineage_sig = sig
        elif sig != self._lineage_sig:
            # drop memoized stats/df AND re-open the tables: the old
            # DataFrames pin the file listing captured at read time, so
            # an out-of-process append would otherwise serve stale
            # postings/stats even after the cache flush
            from oni_indexer_spark.index.build import read_index

            self.invalidate()
            self.tables = read_index(
                self.tables.stats.sparkSession, self.tables.path
            )
            self._lineage_sig = sig

    def invalidate(self) -> None:
        """Drop memoized corpus stats / term dfs AND refresh Spark's
        cached file listing for the backing path (a parquet DataFrame
        pins the file index captured at read time — without the refresh,
        re-collected stats/df would still read the pre-append files, and
        actions after an overwrite's directory swap would fail on deleted
        files). The refresh needs tables.path (set by read_index); for
        ad-hoc IndexTables objects, open a fresh one via read_index."""
        self._stats = None
        self._df_cache.clear()
        self._fq_cache.clear()
        if self.tables.path is not None:
            self.tables.stats.sparkSession.catalog.refreshByPath(self.tables.path)

    def stats(self) -> tuple[int, float]:
        # the stats table may hold one row per appended segment; combine
        # as a weighted average (append-only incremental indexing, C11)
        if self._stats is None:
            rows = self.tables.stats.collect()
            n = sum(int(r["n_docs"]) for r in rows)
            total_dl = sum(int(r["n_docs"]) * float(r["avgdl"]) for r in rows)
            self._stats = (n, (total_dl / n) if n else 0.0)
        return self._stats

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            buckets = _buckets_for(self.tables, missing)
            rows = (
                self.tables.dfreq.where(
                    F.col("bucket").isin(buckets) & F.col("term").isin(missing)
                )
                .groupBy("term")
                .agg(F.sum("df").alias("df"))  # sum over appended segments
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms if self._df_cache[t] > 0}

    def _rare_block_prefilter(
        self, p: DataFrame, dfs: dict[str, int], n_docs: int
    ) -> DataFrame:
        """Lossless block prefilter for conjunctive queries (AND mode,
        phrases): blocks are global doc-ranges (block_id = doc_id //
        block_size), so every term of a matching doc lands in the SAME
        block — a block missing the rarest term cannot produce a match.
        When the rarest term is selective, semi-join the pruned scan
        against its block list (broadcast, ≤ min_df ids) BEFORE the
        block_id shuffle, so hot-term blobs in rare-term-free blocks are
        never shuffled or decoded. At north-star scale this turns a
        rare∧hot conjunction from "decode the hot term's postings" into
        "decode only the rare term's blocks".

        Gated off when the rare term hits most blocks anyway (no blocks
        to skip — the uniform-corpus / all-stop-words case) or when the
        broadcast would exceed RARE_BLOCK_MAX_DF ids."""
        if len(dfs) < 2:
            return p
        rare_blocks = self._rare_blocks(dfs, n_docs)
        if rare_blocks is None:
            return p
        return p.join(F.broadcast(rare_blocks), "block_id", "left_semi")

    def _rare_blocks(self, dfs: dict[str, int], n_docs: int):
        """Block list (block_id DataFrame) of the rarest term in ``dfs``
        when it is selective enough to prune with, else None — the
        shared engine behind the conjunctive prefilter and the boolean
        compositor's cross-clause MUST-block pushdown."""
        from oni_indexer_spark.hashing import xxhash64_str

        tables = self.tables
        min_term = min(dfs, key=lambda t: dfs[t])
        min_df = dfs[min_term]
        n_blocks_est = max(1, n_docs // tables.cfg.block_size)
        if min_df >= n_blocks_est // 2 or min_df > self.RARE_BLOCK_MAX_DF:
            return None
        return (
            tables.postings.where(
                F.col("bucket").isin(_buckets_for(tables, [min_term]))
                & (F.col("tid") == xxhash64_str(min_term))
            )
            .select("block_id")
            .distinct()
        )

    def topk(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        fq: dict[str, str] | None = None,
        prune: bool | str = "auto",
        slop: int = 0,
    ) -> DataFrame:
        """Rank-ordered top-k ``(rank, doc_id, score)`` for a free-text
        query. ``mode='or'`` is Solr's default q.op; ``mode='and'``
        requires all terms; ``mode='phrase'`` matches the exact token
        sequence (quoted-phrase queries — needs a positional index),
        with ``slop`` allowing up to N total gap tokens between the
        ordered terms (Solr ``"a b"~N``); ``fq`` is exact-match metadata
        drill-down (C9). ``prune``: True / False / 'auto'
        (cost-based)."""
        self._check_external_staleness()
        if mode == "phrase":
            return self._phrase_topk(query, k, fq=fq, slop=slop)
        if slop:
            raise ValueError("slop only applies to mode='phrase'")
        tables = self.tables
        terms = query_terms(query, tables.cfg.analyzer)
        if not terms:
            return _empty_result(tables)
        dfs = self.term_dfs(terms)
        if not dfs or (mode == "and" and len(dfs) < len(terms)):
            return _empty_result(tables)
        return self._topk_from_dfs(dfs, k=k, mode=mode, fq=fq, prune=prune)

    def _topk_from_dfs(
        self,
        dfs: dict[str, int],
        k: int,
        mode: str = "or",
        fq: dict | None = None,
        prune: bool | str = "auto",
        weights: dict[str, float] | None = None,
        exclude_doc_id: int | None = None,
    ) -> DataFrame:
        """Shared scoring tail for every term-set query (free-text OR/AND,
        prefix- and fuzzy-expanded, more-like-this). ``dfs`` maps present
        terms to their document frequency; ``weights`` (expansion boosts,
        e.g. fuzzy similarity) multiply each term's idf — the scorers are
        untouched, a weighted query is just a different idf dict.
        ``exclude_doc_id`` drops one doc before ranking (MLT excludes its
        source doc) — a plain filter, no join."""
        import math

        tables = self.tables
        n_docs, avgdl = self.stats()
        from oni_indexer_spark.hashing import xxhash64_str

        present = list(dfs)
        # postings are tid-keyed; term → tid driver-side (exact xxhash64
        # twin, tests/test_hashing.py), no Spark job
        idf = {
            xxhash64_str(t): (weights[t] if weights else 1.0)
            * math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))
            for t, d in dfs.items()
        }
        buckets = _buckets_for(tables, present)
        p = tables.postings.where(
            F.col("bucket").isin(buckets) & F.col("tid").isin(list(idf))
        )
        est = sum(dfs.values())
        # upper estimate of postings RESIDENT in the touched buckets
        # (avgdl ≥ distinct terms per doc) — the coalesce scan gate
        scan_est = int(n_docs * avgdl * len(buckets) / tables.cfg.n_buckets)
        if mode == "and":
            p = self._rare_block_prefilter(p, dfs, n_docs)
        if prune == "auto":
            prune = est > self.prune_cost_threshold
        allowed_bc = None
        if fq is not None:
            fq_count, allowed_bc = self._fq_allowed(fq)
            if fq_count == 0:
                return _empty_result(tables)
        # excluding a doc means the (k+1)-th candidate can rise into the
        # top-k, so every k-bounded stage (pass-1 τ, per-batch candidate
        # selection) must run at k+1 before the filter drops the doc
        k_eff = k + 1 if exclude_doc_id is not None else k
        floor = None
        if prune and mode == "or" and fq is None:
            p, floor = _blockmax_prune(p, tables, idf, avgdl, k_eff)
        scored = _scores(
            p, tables, idf, avgdl, mode, fq, k=k_eff, floor=floor,
            est_postings=est, allowed_bc=allowed_bc, scan_est=scan_est,
        )
        if exclude_doc_id is not None:
            scored = scored.where(F.col("doc_id") != F.lit(exclude_doc_id))
        return _ranked(scored, k)

    def _clause_scores(
        self,
        dfs: dict[str, int],
        mode: str = "or",
        weights: dict[str, float] | None = None,
        fq: dict | None = None,
        allowed_bc=None,
        block_filter: DataFrame | None = None,
    ) -> DataFrame:
        """Unranked exact (doc_id, score) for one term-set clause of a
        boolean query — the k=None twin of ``_topk_from_dfs`` (no τ
        pruning, no per-batch candidate selection: clause totals combine
        with OTHER clauses downstream, so every matching doc's total
        must leave the workers). Single-clause queries should use the
        k-bounded ``_topk_from_dfs`` instead."""
        import math

        tables = self.tables
        n_docs, avgdl = self.stats()
        from oni_indexer_spark.hashing import xxhash64_str

        idf = {
            xxhash64_str(t): (weights[t] if weights else 1.0)
            * math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))
            for t, d in dfs.items()
        }
        clause_buckets = _buckets_for(tables, list(dfs))
        p = tables.postings.where(
            F.col("bucket").isin(clause_buckets) & F.col("tid").isin(list(idf))
        )
        if mode == "and":
            p = self._rare_block_prefilter(p, dfs, n_docs)
        if block_filter is not None:
            # cross-clause MUST-block pushdown: every result doc contains
            # every MUST term, so every clause's useful output lives in
            # the rarest MUST term's blocks — lossless for this clause
            # because its scores only survive the downstream join/filter
            # against the MUST set anyway
            p = p.join(F.broadcast(block_filter), "block_id", "left_semi")
        return _scores(
            p, tables, idf, avgdl, mode, fq, k=None,
            est_postings=sum(dfs.values()), allowed_bc=allowed_bc,
            scan_est=int(
                n_docs * avgdl * len(clause_buckets) / tables.cfg.n_buckets
            ),
        )

    def _expansion(
        self, kind: str, tok: str, edits: int, max_prefix_terms: int,
        max_fuzzy_terms: int,
    ) -> tuple[dict[str, int], dict[str, float]]:
        """(dfs, weights) for a prefix/fuzzy clause inside a boolean
        query — same expansion rules as prefix_topk / fuzzy_topk."""
        if kind == "prefix":
            exp = self.expand_prefix(tok, max_terms=max_prefix_terms)
            return {t: d for t, d in exp}, {t: 1.0 for t, _ in exp}
        exp = self.expand_fuzzy(tok, max_edits=edits, max_terms=max_fuzzy_terms)
        return (
            {t: d for t, d, _ in exp},
            {t: 1.0 - ed / min(len(t), len(tok)) for t, _, ed in exp},
        )

    def search(
        self,
        query: str,
        k: int = 10,
        prune: bool | str = "auto",
        max_prefix_terms: int = 128,
        max_fuzzy_terms: int = 64,
    ) -> DataFrame:
        """Lucene-lite boolean search over a user-typed query string —
        the Solr portal's actual input surface (the reference sends the
        portal's query box to Solr's lucene parser over ``main_search``,
        ``portal_base.json:18-23``). Grammar and exact semantics:
        ``query/parser.py``; in short — ``+must -not should``, quoted
        phrases (``"a b"~N``), wildcards (``pre*``), fuzzy (``word~1``),
        metadata filters (``lang:en``, ``-lang:fr``, ``dl:[5 TO 100]``),
        AND/OR/NOT keyword sugar. Score = Lucene BooleanQuery: sum of
        matching MUST + SHOULD clause scores; MUST clauses are required,
        MUST_NOT excluded, filters restrict results only.

        Physical shape: single-clause queries dispatch to the k-bounded
        fast paths (topk / phrase / prefix / fuzzy — pruning + per-batch
        candidate selection stay on). Compound queries run one k=None
        scoring pass PER CLAUSE GROUP (all MUST terms fuse into one
        AND pass, all SHOULD terms + expansions fuse into one weighted
        OR pass; each phrase is its own pass), then combine on doc_id:
        inner joins across MUST clauses, one union+sum for SHOULD,
        left-anti for MUST_NOT. Clause outputs are (doc_id, score)
        pairs bounded by each clause's match count — the combination
        shuffles at most Σ|clause matches| rows, never the corpus; a
        selective filter ships into every pass as a broadcast doc set
        (the fq pushdown), an unselective one is applied once as a
        single doclen semi-join on the combined result."""
        self._check_external_staleness()
        from functools import reduce

        from oni_indexer_spark.analyzer import analyzer_tokenize_py
        from oni_indexer_spark.query.parser import parse_query

        tables = self.tables
        pq = parse_query(query)
        an = tables.cfg.analyzer
        fq = pq.filters or None

        # analyze clause bodies (the analyzer is an index property);
        # multi-token terms explode into one term per token (Solr q.op
        # behavior), 1-token phrases rewrite to terms (Lucene)
        # per-occur term weights: each analyzed token of a term clause
        # adds the clause's ^boost (multiplicity and boosts both fold
        # into the idf weight — Lucene sums equal clauses' scores)
        terms: dict[str, dict[str, float]] = {"must": {}, "should": {}, "not": {}}
        phrases: list[tuple[str, list[str], int, float]] = []
        expansions: list[tuple[str, str, str, str, int, float]] = []
        for c in pq.clauses:
            toks = analyzer_tokenize_py(c.text, an)
            if not toks:
                continue
            if c.kind == "phrase" and len(toks) >= 2:
                phrases.append((c.occur, toks, c.slop, c.boost))
            elif c.kind in ("prefix", "fuzzy"):
                # keep BOTH the raw body (fast paths re-analyze inside
                # prefix_topk/fuzzy_topk — exactly one analysis) and the
                # analyzed token (general path — matches the oracle,
                # which analyzes once); stemming analyzers need not be
                # idempotent, so never analyze twice
                expansions.append((c.occur, c.kind, c.text, toks[0], c.slop, c.boost))
            else:
                w = terms[c.occur]
                for t in toks:
                    w[t] = w.get(t, 0.0) + c.boost

        # ---- single-clause fast paths (keep pruning / k-bounded selection)
        n_pos = (
            (1 if terms["must"] else 0)
            + (1 if terms["should"] else 0)
            + sum(1 for o, *_ in phrases if o != "not")
            + sum(1 for o, *_ in expansions if o != "not")
        )
        no_not = not terms["not"] and not any(
            o == "not" for o, *_ in phrases
        ) and not any(o == "not" for o, *_ in expansions)
        if n_pos == 1 and no_not:
            if terms["should"] and not phrases and not expansions:
                w = terms["should"]
                dfs = self.term_dfs(list(w))
                if not dfs:
                    return _empty_result(tables)
                return self._topk_from_dfs(
                    dfs, k=k, mode="or", fq=fq, prune=prune,
                    weights={t: w[t] for t in dfs},
                )
            if terms["must"] and not phrases and not expansions:
                w = terms["must"]
                dfs = self.term_dfs(list(w))
                if len(dfs) < len(w):
                    return _empty_result(tables)
                return self._topk_from_dfs(
                    dfs, k=k, mode="and", fq=fq, prune=prune,
                    weights={t: w[t] for t in dfs},
                )
            if len(phrases) == 1 and not expansions:
                _, toks, slop, boost = phrases[0]
                allowed_bc = None
                if fq is not None:
                    fq_count, allowed_bc = self._fq_allowed(fq)
                    if fq_count == 0:
                        return _empty_result(tables)
                scored = self._phrase_scores(
                    toks,
                    k if (fq is None or allowed_bc is not None) else None,
                    fq=fq, allowed_bc=allowed_bc, slop=slop, boost=boost,
                )
                if scored is None:
                    return _empty_result(tables)
                return _ranked(scored, k)
            if len(expansions) == 1 and not phrases:
                _, kind, raw, _tok, edits, boost = expansions[0]
                if boost == 1.0:
                    if kind == "prefix":
                        return self.prefix_topk(raw, k=k, fq=fq, prune=prune,
                                                max_terms=max_prefix_terms)
                    return self.fuzzy_topk(raw, k=k, max_edits=edits, fq=fq,
                                           prune=prune, max_terms=max_fuzzy_terms)
                dfs, ws = self._expansion(kind, _tok, edits, max_prefix_terms,
                                          max_fuzzy_terms)
                if not dfs:
                    return _empty_result(tables)
                return self._topk_from_dfs(
                    dfs, k=k, mode="or", fq=fq, prune=prune,
                    weights={t: w * boost for t, w in ws.items()},
                )

        # ---- general boolean compositor
        allowed_bc = None
        if fq is not None:
            fq_count, allowed_bc = self._fq_allowed(fq)
            if fq_count == 0:
                return _empty_result(tables)
        # push the filter into every positive pass only when it runs
        # in-worker (broadcast); otherwise apply ONE semi-join at the end
        clause_fq = fq if allowed_bc is not None else None

        # cross-clause MUST-block pushdown: every result doc contains
        # every MUST term and every token of every MUST phrase, so the
        # rarest such token's block list (blocks are global doc-ranges)
        # losslessly bounds EVERY pass — most valuable for the SHOULD
        # pass, whose hot terms would otherwise emit corpus-sized totals
        # that the MUST join then throws away.
        required: dict[str, int] = {}
        req_toks = list(terms["must"])
        for occ, toks, _slop, _boost in phrases:
            if occ == "must":
                req_toks.extend(toks)
        if req_toks:
            required = self.term_dfs(list(set(req_toks)))
        must_blocks = (
            self._rare_blocks(required, self.stats()[0]) if required else None
        )

        must_parts: list[DataFrame] = []
        if terms["must"]:
            w = terms["must"]
            dfs = self.term_dfs(list(w))
            if len(dfs) < len(w):
                return _empty_result(tables)
            must_parts.append(self._clause_scores(
                dfs, mode="and", weights=w, fq=clause_fq, allowed_bc=allowed_bc,
                block_filter=must_blocks))
        for occ, toks, slop, boost in phrases:
            if occ != "must":
                continue
            s = self._phrase_scores(toks, None, fq=clause_fq,
                                    allowed_bc=allowed_bc, slop=slop, boost=boost,
                                    block_filter=must_blocks)
            if s is None:
                return _empty_result(tables)
            must_parts.append(s)
        for occ, kind, _raw, tok, edits, boost in expansions:
            if occ != "must":
                continue
            dfs, ws = self._expansion(kind, tok, edits, max_prefix_terms,
                                      max_fuzzy_terms)
            if not dfs:
                return _empty_result(tables)
            must_parts.append(self._clause_scores(
                dfs, mode="or", weights={t: w * boost for t, w in ws.items()},
                fq=clause_fq, allowed_bc=allowed_bc, block_filter=must_blocks))

        should_parts: list[DataFrame] = []
        sh_w = dict(terms["should"])
        for occ, kind, _raw, tok, edits, boost in expansions:
            if occ != "should":
                continue
            _, ws = self._expansion(kind, tok, edits, max_prefix_terms,
                                    max_fuzzy_terms)
            for t, wt in ws.items():
                sh_w[t] = sh_w.get(t, 0.0) + wt * boost
        if sh_w:
            dfs = self.term_dfs(list(sh_w))
            if dfs:
                should_parts.append(self._clause_scores(
                    dfs, mode="or", weights={t: sh_w[t] for t in dfs},
                    fq=clause_fq, allowed_bc=allowed_bc,
                    block_filter=must_blocks))
        for occ, toks, slop, boost in phrases:
            if occ != "should":
                continue
            s = self._phrase_scores(toks, None, fq=clause_fq,
                                    allowed_bc=allowed_bc, slop=slop, boost=boost,
                                    block_filter=must_blocks)
            if s is not None:
                should_parts.append(s)

        not_sets: list[DataFrame] = []
        if terms["not"]:
            dfs = self.term_dfs(list(terms["not"]))
            if dfs:
                not_sets.append(self._clause_scores(
                    dfs, mode="or", block_filter=must_blocks).select("doc_id"))
        for occ, toks, slop, _boost in phrases:
            if occ != "not":
                continue
            s = self._phrase_scores(toks, None, slop=slop)
            if s is not None:
                not_sets.append(s.select("doc_id"))
        for occ, kind, _raw, tok, edits, _boost in expansions:
            if occ != "not":
                continue
            dfs, _ = self._expansion(kind, tok, edits, max_prefix_terms,
                                     max_fuzzy_terms)
            if dfs:
                not_sets.append(self._clause_scores(dfs, mode="or")
                                .select("doc_id"))

        if must_parts:
            base = must_parts[0]
            for d in must_parts[1:]:
                base = base.join(
                    d.withColumnRenamed("score", "score_r"), "doc_id"
                ).select(
                    "doc_id",
                    (F.col("score") + F.col("score_r")).alias("score"),
                )
            if should_parts:
                sh = reduce(DataFrame.unionByName, should_parts)
                sh_sum = sh.groupBy("doc_id").agg(F.sum("score").alias("sh"))
                base = base.join(sh_sum, "doc_id", "left").select(
                    "doc_id",
                    (F.col("score") + F.coalesce(F.col("sh"), F.lit(0.0)))
                    .alias("score"),
                )
        else:
            if not should_parts:
                return _empty_result(tables)
            base = (
                reduce(DataFrame.unionByName, should_parts)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        for ns in not_sets:
            base = base.join(ns, "doc_id", "left_anti")
        if fq is not None and allowed_bc is None:
            base = base.join(
                _fq_keep(tables.doclen, fq).select("doc_id"), "doc_id",
                "left_semi",
            )
        return _ranked(base, k)

    def expand_prefix(
        self, prefix: str, max_terms: int = 128
    ) -> list[tuple[str, int]]:
        """Term-dictionary expansion for a trailing-wildcard query
        (Solr/Lucene ``PrefixQuery``, e.g. ``ha*``). Returns up to
        ``max_terms`` ``(term, df)`` pairs ordered by (df desc, term
        asc) — Lucene's ``TopTermsScoringBooleanQueryRewrite`` keeps the
        highest-df expansions under ``maxClauseCount``; the (df, term)
        order makes the cut deterministic on ties.

        Scale shape: this is a scan of the dfreq table (the term
        dictionary — vocabulary-sized, orders of magnitude smaller than
        postings) with a ``StartsWith`` filter that pushes down to the
        parquet reader; dfreq files are written sorted by term within
        each bucket (index/build.py) so rowgroup min/max stats prune
        non-matching rowgroups. Output is TakeOrdered-bounded at
        ``max_terms`` rows — nothing unbounded reaches the driver."""
        rows = (
            self.tables.dfreq.where(F.col("term").startswith(prefix))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))  # sum over appended segments
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(max_terms)
            .collect()
        )
        out = [(r["term"], int(r["df"])) for r in rows]
        for t, d in out:  # warm the df memo for any follow-up query
            self._df_cache.setdefault(t, d)
        return out

    # Lucene's CONSTANT_SCORE_BLENDED_REWRITE threshold: expansions of
    # ≤ 16 terms score a real BooleanQuery; larger ones build a filter
    # bitset with constant score. Scoring a 128-clause hot-term OR costs
    # ~7x a plain multi-term query (measured at 50k docs); the constant
    # path is one distinct + TakeOrdered.
    PREFIX_SCORING_MAX_TERMS = 16

    def prefix_topk(
        self,
        prefix: str,
        k: int = 10,
        max_terms: int = 128,
        fq: dict | None = None,
        prune: bool | str = "auto",
        rewrite: str = "auto",
    ) -> DataFrame:
        """Top-k for a trailing-wildcard query ``prefix*``: expand
        against the term dictionary, then — mirroring Lucene's
        CONSTANT_SCORE_BLENDED_REWRITE — score a BM25 OR over the
        expansion when it is small (each matched term keeps its own
        idf), or fall back to a constant-score match (score 1.0, ties →
        doc_id asc) when the expansion exceeds
        ``PREFIX_SCORING_MAX_TERMS``. ``rewrite`` forces a mode
        ("scoring" / "constant"); "auto" applies the threshold. The
        reference's Solr portal serves wildcard queries over
        ``main_search``; this is that surface on the native index."""
        self._check_external_staleness()
        from oni_indexer_spark.analyzer import analyzer_tokenize_py

        toks = analyzer_tokenize_py(prefix, self.tables.cfg.analyzer)
        if not toks:
            return _empty_result(self.tables)
        expansion = self.expand_prefix(toks[0], max_terms=max_terms)
        if not expansion:
            return _empty_result(self.tables)
        if rewrite == "auto":
            rewrite = (
                "scoring"
                if len(expansion) <= self.PREFIX_SCORING_MAX_TERMS
                else "constant"
            )
        if rewrite == "scoring":
            return self._topk_from_dfs(dict(expansion), k=k, fq=fq, prune=prune)
        if rewrite != "constant":
            raise ValueError(f"unknown rewrite: {rewrite!r}")
        return self._constant_score_topk([t for t, _ in expansion], k=k, fq=fq)

    def _constant_score_topk(
        self, terms: list[str], k: int, fq: dict | None = None
    ) -> DataFrame:
        """Constant-score union (Lucene's multi-term filter rewrite):
        every doc containing ≥1 expanded term scores 1.0; top-k is the k
        lowest doc_ids of the union — the deterministic analogue of
        Lucene's early-terminating docid-order collector. Early
        termination, Spark-shaped: blocks are DISJOINT global doc
        ranges and a (tid, block_id) row exists only if the term has ≥1
        posting there, so the k smallest distinct block_ids in the
        pruned scan are guaranteed to contain ≥ k distinct matching
        docs, all smaller than any doc in a later block — restricting
        the decode to those k blocks is lossless. Without the bound the
        path decoded the full union and shuffled it through distinct:
        measured 8.6 s for a 128-term hot expansion at 1M docs; with it
        the decode touches ≤ k·|terms| blobs at ANY corpus size. (An fq
        invalidates the ≥k-docs guarantee — filtered docs don't count —
        so the bound is applied only when fq is None.)"""
        from oni_indexer_spark.hashing import xxhash64_str

        tables = self.tables
        tids = [xxhash64_str(t) for t in terms]
        p = tables.postings.where(
            F.col("bucket").isin(_buckets_for(tables, terms))
            & F.col("tid").isin(tids)
        )
        if fq is None:
            low_blocks = (
                p.select("block_id").distinct().orderBy(F.asc("block_id")).limit(k)
            )
            p = p.join(F.broadcast(low_blocks), "block_id", "left_semi")
        matched = _decoded(p, tables.cfg).select("doc_id").distinct()
        if fq:
            matched = matched.join(
                _fq_keep(tables.doclen, fq).select("doc_id"), "doc_id", "left_semi"
            )
        from pyspark.sql import Window as W

        w = W.orderBy(F.asc("doc_id"))
        return (
            matched.orderBy(F.asc("doc_id"))
            .limit(k)
            .select(
                F.row_number().over(w).alias("rank"),
                "doc_id",
                F.lit(1.0).alias("score"),
            )
        )

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        prefix_len: int = 1,
        max_terms: int = 64,
    ) -> list[tuple[str, int, int]]:
        """Levenshtein expansion (Lucene ``FuzzyQuery`` shape): dictionary
        terms within ``max_edits`` classic Levenshtein edits of ``term``
        (no transpositions — deliberately the classic metric so Spark's
        ``levenshtein`` and DuckDB's ``levenshtein`` are exact twins;
        Lucene itself uses Damerau-Levenshtein), sharing a
        ``prefix_len``-char prefix (Lucene's prefixLength). Returns up
        to ``max_terms`` ``(term, df, edit_distance)`` by (df desc, term
        asc).

        Scale shape: the dictionary scan is bounded by two pushed-down
        predicates before the levenshtein evaluation ever runs — the
        shared prefix (StartsWith → sorted-rowgroup pruning) and the
        ±max_edits length band; levenshtein itself is a JVM builtin
        inside whole-stage codegen, evaluated only on the surviving
        sliver of the vocabulary."""
        pre = term[:prefix_len]
        n = len(term)
        cand = self.tables.dfreq.where(
            F.col("term").startswith(pre)
            & F.length("term").between(n - max_edits, n + max_edits)
            & (F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
        )
        rows = (
            cand.groupBy("term")
            .agg(F.sum("df").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(max_terms)
            .collect()
        )
        out = [
            (r["term"], int(r["df"]), _levenshtein_py(r["term"], term)) for r in rows
        ]
        for t, d, _ in out:
            self._df_cache.setdefault(t, d)
        return out

    def fuzzy_topk(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_len: int = 1,
        max_terms: int = 64,
        fq: dict | None = None,
        prune: bool | str = "auto",
    ) -> DataFrame:
        """Top-k for a fuzzy query ``term~``: expand within ``max_edits``
        and score as a WEIGHTED BM25 OR — each expanded term's idf is
        scaled by Lucene's fuzzy boost ``1 − ed / min(|term|, |query|)``
        (exact match keeps weight 1). The weight folds into the idf dict
        driver-side; the distributed scorers are byte-identical to the
        plain OR path."""
        self._check_external_staleness()
        from oni_indexer_spark.analyzer import analyzer_tokenize_py

        toks = analyzer_tokenize_py(term, self.tables.cfg.analyzer)
        if not toks:
            return _empty_result(self.tables)
        q = toks[0]
        expansion = self.expand_fuzzy(
            q, max_edits=max_edits, prefix_len=prefix_len, max_terms=max_terms
        )
        if not expansion:
            return _empty_result(self.tables)
        dfs = {t: d for t, d, _ in expansion}
        weights = {
            t: 1.0 - ed / min(len(t), len(q)) for t, _, ed in expansion
        }
        return self._topk_from_dfs(
            dfs, k=k, fq=fq, prune=prune, weights=weights
        )

    def _phrase_topk(
        self, query: str, k: int, fq: dict[str, str] | None = None, slop: int = 0
    ) -> DataFrame:
        """Quoted-phrase top-k (Solr/Lucene ``PhraseQuery`` over
        ``main_search`` — the query shape ``portal_base.json:18-23``
        serves that the OR/AND engine couldn't). Needs an index built
        with ``IndexConfig.positions=True`` (v5).

        Scoring is Lucene's: the phrase behaves as one pseudo-term whose
        tf is the exact phrase occurrence count and whose idf weight is
        ``Σ_j idf(term_j)`` over the query positions (duplicate terms
        contribute once per position). Physical plan = the BM25 scorer's
        block-aligned shape: bucket/tid-pruned scan → rarest-term block
        prefilter (lossless semi-join, _rare_block_prefilter) → ONE
        repartition of compressed blobs by block_id → numpy decode →
        doc-level term-presence intersection → position-key
        intersection + per-batch candidate top-k → TakeOrdered. No
        block-max τ pruning (the OR bound is valid but pass-1 would
        need phrase scoring of candidate blocks to set τ — the two
        intersections capture most of that win without the extra job).

        ``fq`` composes exactly as in the OR/AND path (Solr: fq
        restricts results, stats untouched): selective filters ship as
        a broadcast sorted doc_id array into the scorer so per-batch
        candidate selection stays on; unselective filters disable
        selection and apply as a doclen semi-join after scoring."""
        tables = self.tables
        cfg = tables.cfg
        if not cfg.positions:
            raise ValueError(
                "phrase queries need a positional index "
                "(build with IndexConfig(positions=True))"
            )
        from oni_indexer_spark.analyzer import analyzer_tokenize_py

        qtoks = analyzer_tokenize_py(query, cfg.analyzer)
        if not qtoks:
            return _empty_result(tables)
        allowed_bc = None
        if fq is not None:
            fq_count, allowed_bc = self._fq_allowed(fq)
            if fq_count == 0:
                return _empty_result(tables)
        if len(qtoks) == 1:
            # Lucene's 1-term rewrite (fq rides along unchanged)
            return self.topk(query, k=k, mode="or", fq=fq)
        scored = self._phrase_scores(
            qtoks,
            # same rule as _scores: only keep per-batch candidate
            # selection on when the filter runs in-worker
            k if (fq is None or allowed_bc is not None) else None,
            fq=fq,
            allowed_bc=allowed_bc,
            slop=slop,
        )
        if scored is None:
            return _empty_result(tables)
        return _ranked(scored, k)

    def _phrase_scores(
        self,
        qtoks: list[str],
        k_sel: int | None,
        fq: dict | None = None,
        allowed_bc=None,
        slop: int = 0,
        boost: float = 1.0,
        block_filter: DataFrame | None = None,
    ):
        """Unranked exact phrase scores (doc_id, score) for an ANALYZED
        token sequence (len ≥ 2), or ``None`` when a query term is
        absent from the dictionary (no phrase can match). ``k_sel``
        enables per-batch candidate selection — pass it ONLY when this
        clause alone determines the final ranking (a boolean compositor
        must pass None: clause totals combine downstream, so every
        matching doc's total has to leave the workers). ``fq`` composes
        as in ``_scores``: a broadcast doc set filters in-worker, an
        unselective filter becomes a doclen semi-join here."""
        import math

        tables = self.tables
        cfg = tables.cfg
        from oni_indexer_spark.hashing import xxhash64_str

        distinct = sorted(set(qtoks))
        dfs = self.term_dfs(distinct)
        if len(dfs) < len(distinct):
            return None  # a missing term → no phrase match
        n_docs, avgdl = self.stats()
        idf = {
            t: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)) for t, d in dfs.items()
        }
        idf_sum = float(sum(idf[t] for t in qtoks)) * boost
        tid_offsets = [(xxhash64_str(t), j) for j, t in enumerate(qtoks)]
        buckets = _buckets_for(tables, distinct)
        tids = sorted({t for t, _ in tid_offsets})
        p = tables.postings.where(
            F.col("bucket").isin(buckets) & F.col("tid").isin(tids)
        )
        p = self._rare_block_prefilter(p, dfs, n_docs)
        if block_filter is not None:
            p = p.join(F.broadcast(block_filter), "block_id", "left_semi")
        # same scale-adaptive fan-out / shuffle-free crossover as _scores
        # (Σ df of the phrase's distinct terms bounds the decoded volume)
        co = _colocate_blocks(
            _block_rows(p, cfg),
            sum(dfs.values()),
            int(n_docs * avgdl * len(buckets) / cfg.n_buckets),
        )
        scored = co.mapInArrow(
            _make_decode_phrase_group_arrow(
                cfg.block_size, tid_offsets, idf_sum, float(avgdl), cfg.k1, cfg.b,
                k_sel,
                allowed_bc=allowed_bc,
                slop=slop,
            ),
            "doc_id long, score double",
        )
        if fq and allowed_bc is None:
            keep = _fq_keep(tables.doclen, fq)
            scored = scored.join(keep.select("doc_id"), "doc_id", "left_semi")
        return scored


# Module-level convenience: one cached Searcher per IndexTables instance,
# bounded LRU (strong refs keep the id() keys valid; the bound stops
# repeated read_index+topk loops from leaking IndexTables objects).
_SEARCHERS: dict[int, tuple[IndexTables, Searcher]] = {}
_SEARCHERS_MAX = 8


def searcher_for(tables: IndexTables) -> Searcher:
    hit = _SEARCHERS.pop(id(tables), None)
    if hit is None or hit[0] is not tables:
        hit = (tables, Searcher(tables))
    _SEARCHERS[id(tables)] = hit  # re-insert = move to MRU end
    while len(_SEARCHERS) > _SEARCHERS_MAX:
        _SEARCHERS.pop(next(iter(_SEARCHERS)))
    return hit[1]


def invalidate_searchers(path: str | None = None) -> None:
    """Drop all memoized stats/dfs — called by the mutators
    (append_to_index / overwrite_docs) so a Searcher over a tables object
    whose backing path just changed re-reads N/avgdl/df on its next
    query. Each Searcher whose tables carry a path also refreshes Spark's
    cached file listing; ``path`` additionally refreshes the mutated
    directory itself, covering IndexTables objects that never went
    through searcher_for."""
    for _, s in _SEARCHERS.values():
        s.invalidate()
    if path is not None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.catalog.refreshByPath(path)


def topk(
    tables: IndexTables,
    query: str,
    k: int = 10,
    mode: str = "or",
    fq: dict[str, str] | None = None,
    prune: bool | str = "auto",
    slop: int = 0,
) -> DataFrame:
    """Functional façade over :class:`Searcher` (stats/df cached)."""
    return searcher_for(tables).topk(
        query, k=k, mode=mode, fq=fq, prune=prune, slop=slop
    )


def search(tables: IndexTables, query: str, k: int = 10, **kw) -> DataFrame:
    """Functional façade over :meth:`Searcher.search` (Lucene-lite
    boolean query strings — see query/parser.py for the grammar)."""
    return searcher_for(tables).search(query, k=k, **kw)


def prefix_topk(tables: IndexTables, prefix: str, k: int = 10, **kw) -> DataFrame:
    """Functional façade over :meth:`Searcher.prefix_topk`."""
    return searcher_for(tables).prefix_topk(prefix, k=k, **kw)


def fuzzy_topk(tables: IndexTables, term: str, k: int = 10, **kw) -> DataFrame:
    """Functional façade over :meth:`Searcher.fuzzy_topk`."""
    return searcher_for(tables).fuzzy_topk(term, k=k, **kw)


def _levenshtein_py(a: str, b: str) -> int:
    """Classic Levenshtein DP — the exact metric Spark's ``levenshtein``
    and DuckDB's ``levenshtein`` implement (insert/delete/substitute,
    no transpositions). Driver-side twin used only to weight the ≤
    ``max_terms`` expanded terms of a fuzzy query."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def snippet_topk(
    tables: IndexTables,
    docs: DataFrame,
    query: str,
    k: int = 10,
    window: int = 5,
) -> DataFrame:
    """Solr-style highlighting: top-k BM25 docs with a snippet — the
    (2·window+1)-token slice of the ANALYZED token stream centred on the
    first occurrence of the query's first term (Solr ``hl=true`` over
    ``main_search``; Lucene's highlighter likewise re-analyzes the stored
    field). Anchoring on the first term and falling back to the leading
    tokens when it is absent (an OR-mode doc matched on other terms)
    makes the snippet a deterministic function of (content, query) that
    the DuckDB oracle reproduces exactly (oracle.snippet_topk_sql).

    Scale shape: ranking reuses the full index path; the snippet pass
    joins the k-row result (broadcast) against the document store and
    computes the slice with JVM builtins (array_position / slice) inside
    whole-stage codegen — one corpus scan, no Python, output bounded at
    k rows. ``docs`` is the corpus DataFrame (the index stores no
    content — same separation as Solr's stored fields)."""
    from oni_indexer_spark.analyzer import analyzer_tokens

    analyzer = tables.cfg.analyzer
    terms = query_terms(query, analyzer)
    top = topk(tables, query, k=k)
    if not terms:
        return top.withColumn("snippet", F.lit(None).cast("string"))
    anchor = terms[0]
    toks = analyzer_tokens("content", analyzer)
    pos = F.array_position(toks, anchor)  # 1-based; 0 when absent
    start = F.when(pos > 0, F.greatest(F.lit(1), pos - window)).otherwise(F.lit(1))
    snip = F.concat_ws(" ", F.slice(toks, start, 2 * window + 1))
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select("rank", "doc_id", "score", snip.alias("snippet"))
        .orderBy("rank")
    )


def more_like_this(
    tables: IndexTables,
    docs: DataFrame,
    doc_id: int,
    k: int = 10,
    max_terms: int = 5,
) -> DataFrame:
    """Solr ``MoreLikeThis``: rank documents similar to a target doc by
    building an OR query from the target's ``max_terms`` most
    interesting terms — ranked by tf·idf exactly as Solr's MLT handler
    ranks "interesting terms" — excluding the source doc from the
    result. Ties in the tf·idf interestingness score break by term asc
    so the selected term set is deterministic (oracle:
    oracle.mlt_topk_sql).

    Scale shape: fetching the target is a single-row pushdown lookup on
    the doc store (Solr's MLT handler likewise reads the source doc);
    term ranking is driver-side arithmetic over that one doc's tf vector
    plus one dfreq probe (term_dfs — bounded, memoized); scoring reuses
    the block-aligned OR path at k+1 with a post-scoring ``doc_id !=``
    filter (no join)."""
    import math
    from collections import Counter

    from oni_indexer_spark.analyzer import analyzer_tokenize_py

    s = searcher_for(tables)
    s._check_external_staleness()
    rows = docs.where(F.col("doc_id") == doc_id).select("content").collect()
    if not rows:
        return _empty_result(tables)
    toks = analyzer_tokenize_py(rows[0]["content"], tables.cfg.analyzer)
    if not toks:
        return _empty_result(tables)
    tf = Counter(toks)
    dfs = s.term_dfs(sorted(tf))
    if not dfs:
        return _empty_result(tables)
    n_docs, _ = s.stats()

    def interest(t: str) -> float:
        return tf[t] * math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))

    sel = sorted(dfs, key=lambda t: (-interest(t), t))[:max_terms]
    return s._topk_from_dfs(
        {t: dfs[t] for t in sel}, k=k, exclude_doc_id=doc_id
    )


def _blockmax_prune(
    p: DataFrame,
    tables: IndexTables,
    idf: dict[int, float],
    avgdl: float,
    k: int,
) -> tuple[DataFrame, float | None]:
    """Lossless block-max pruning (the Spark-native analogue of Lucene's
    block-max WAND, SURVEY.md §4.2.3). Returns (pruned postings, τ) —
    τ is None when no threshold could be established (fewer than k
    candidate docs) and nothing was pruned.

    Blocks are global doc-ranges, so a doc's total score is bounded by
    Σ_t idf_t · tfn(block_max_tf, block_min_dl) — BM25 saturation is
    increasing in tf and decreasing in dl, so evaluating it at the
    block's max tf / min dl under the current avgdl upper-bounds every
    posting in the block (and stays valid across appended segments).
    Pass 1 scores just enough highest-bound blocks to get a candidate
    kth score τ (one 1-row collect — a scalar at any scale); the final
    pass keeps only blocks whose bound ≥ τ, and τ also rides into the
    scorer as a per-DOC floor, cutting the candidate
    rows that leave the worker. Any dropped doc scores < τ ≤ true kth
    score, so the top-k is unchanged (tests/test_wand.py).

    Scale shape: the τ candidate set is the top-k blocks by bound — a
    TakeOrderedAndProject (every block holds ≥1 posting, so k blocks
    always cover ≥ k docs). At 10^12 docs a hot term has ~10^10 blocks;
    all stages here are partial-agg + TakeOrdered + a 1-row aggregate
    collect, nothing funnels through one task.

    Rounding guard: final ranking orders by (round(score,6), doc_id), so
    a pruned doc whose raw score rounds INTO a tie with the kth score
    could win the doc_id tie-break. Blocks are kept at
    ub ≥ round(τ,6) − 1e-6 — conservative below the rounding grid.
    """
    cfg = tables.cfg
    idf_map = F.create_map(*[F.lit(x) for kv in idf.items() for x in kv])
    block_ub = idf_map[F.col("tid")] * tfn_expr(
        F.col("block_max_tf"), F.col("block_min_dl"), avgdl, cfg.k1, cfg.b
    )
    bounds = (
        p.withColumn("ub1", block_ub)
        .groupBy("block_id")
        .agg(F.sum("ub1").alias("ub"))
    )
    cand_blocks = bounds.orderBy(F.desc("ub"), F.asc("block_id")).limit(k).select("block_id")
    # candidate set is <= k blocks — a handful of rows; a narrow
    # repartition avoids paying the full python-worker fan-out for it
    cand_scores = _scores(
        p.join(F.broadcast(cand_blocks), "block_id", "left_semi"),
        tables, idf, avgdl, "or", None, k=k, nparts=4,
    )
    # ONE pass-1 action: τ (kth candidate score) and the global min block
    # bound ride in the same 1x1 crossJoin — two 1-row aggregates, one
    # job (each extra driver round-trip costs ~0.5s of fixed scheduling
    # on the measured host, the dominant term of pass-1).
    tau_agg = (
        cand_scores.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .agg(F.count(F.lit(1)).alias("nk"), F.min("score").alias("tau"))
    )
    row = tau_agg.crossJoin(bounds.agg(F.min("ub").alias("mn"))).collect()[0]
    if int(row["nk"]) < k or row["tau"] is None:
        return p, None
    tau = float(row["tau"])
    guard = round(tau, 6) - 1e-6
    # Tie-heavy corpora (every block bound ~equal — the uniform synthetic
    # corpus, stop-word-only queries) would keep EVERY block: the keep
    # semi-join + its metadata rescan would cost real time and prune
    # nothing; τ still rides into the scorer as the per-doc floor.
    if row["mn"] is not None and float(row["mn"]) >= guard:
        return p, tau  # no block falls below τ — floor-only pruning
    keep = bounds.where(F.col("ub") >= guard).select("block_id")
    return p.join(F.broadcast(keep), "block_id", "left_semi"), tau


def topk_direct(
    docs: DataFrame,
    query: str,
    k: int = 10,
    mode: str = "or",
    fq: dict[str, str] | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "code",
) -> DataFrame:
    """BM25 top-k computed straight from the documents table (no
    materialized index) — one declarative plan, used as the in-engine
    cross-check for the index path and as the SQL-oracle twin.
    """
    from oni_indexer_spark.analyzer import analyzer_tokens

    terms = query_terms(query, analyzer)
    spark = docs.sparkSession
    if not terms:
        return _empty_literal(spark, "rank int, doc_id long, score double")
    # Solr fq semantics: corpus stats (N, avgdl, df) are global; the
    # filter only restricts which docs may appear in the result.
    base = docs
    toks = base.select("doc_id", analyzer_tokens("content", analyzer).alias("toks")).select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )
    tf = toks.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dlt = base.select("doc_id", F.size(analyzer_tokens("content", analyzer)).alias("dl"))
    srow = dlt.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("a")).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["a"] or 0.0)
    qt = tf.where(F.col("term").isin(terms))
    dfreq = qt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        qt.join(F.broadcast(dfreq), "term")
        .withColumn(
            "s", idf_expr(F.col("df"), n_docs) * tfn_expr(F.col("tf"), F.col("dl"), avgdl, k1, b)
        )
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"), F.count(F.lit(1)).alias("n_terms_hit"))
    )
    if mode == "and":
        scored = scored.where(F.col("n_terms_hit") == len(set(terms)))
    if fq:
        scored = scored.join(
            _fq_keep(docs, fq).select("doc_id"), "doc_id", "left_semi"
        )
    return _ranked(scored.select("doc_id", "score"), k)


def topk_fields(
    tables: IndexTables,
    docs: DataFrame,
    query: str,
    fields: list[str],
    k: int = 10,
    mode: str = "or",
    fq: dict | None = None,
) -> DataFrame:
    """Solr's ``fl`` parameter: top-k with the requested STORED fields
    attached (the portal requests ``fl=id,name,description,...`` on
    every search, ``oni-indexer.js`` portal result list; Solr reads
    stored fields for the page of hits only). Returns
    ``(rank, doc_id, score, *fields)`` ordered by rank.

    Scale shape: ranking reuses the full index path unchanged; field
    retrieval is the k-row result BROADCAST against the document store
    — one pruned corpus scan reading only the requested columns
    (column-pruned parquet scan), output bounded at k rows. Same
    separation as Solr: the index stores no document content."""
    missing = [f for f in fields if f not in docs.columns]
    if missing:
        raise ValueError(f"unknown stored fields: {missing}")
    top = topk(tables, query, k=k, mode=mode, fq=fq)
    return (
        docs.select("doc_id", *fields)
        .join(F.broadcast(top), "doc_id")
        .select("rank", "doc_id", "score", *fields)
        .orderBy("rank")
    )
