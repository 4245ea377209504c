"""Inverted-index build: documents → postings / doclen / dfreq / stats.

The reference posts flat docs to Solr and lets Lucene build the index
(``oni-indexer.js:256-269``; SURVEY.md §2.C2-C3). This module builds the
same artifacts natively as Spark tables:

- ``postings(tid, bucket, block_id, n, block_max_tf, block_min_dl,
  blob)`` — keyed by ``tid = xxhash64(term)``; exact term strings
  live in dfreq (build verifies tid injectivity per corpus)
- ``doclen(doc_id, repo, path, lang, dl, content_sha256, seg)``  (doc
  store + length norms + the per-row sha256 invariant from BASELINE.json)
- ``dfreq(term, df, cf)``  (document frequency / collection frequency)
- ``stats(n_docs, avgdl)``  (one row per build/append/overwrite batch;
  readers take the weighted sum — overwrite appends signed corrections)

Scale design (the part Lucene's segment merge does for free and Spark
must do explicitly):

* **Doc-range blocking defeats hot-term skew.** Postings are grouped by
  ``(term, block_id)`` where ``block_id = doc_id // block_size``. A
  stop-word-grade term that appears in every document never concentrates
  on one reducer: its postings split into ``n_docs / block_size`` groups,
  each bounded by ``block_size`` entries. This is the explicit skew
  handling demanded by BASELINE.json's north_rule — the skew key is
  structural (doc-range salt), not a runtime heuristic, and the blocks
  double as the WAND pruning unit (block doc-ranges align across terms).
  AQE skew-join/coalesce stays on as a second line of defence.
* **Per-block max-score metadata** (``block_max_tf``, ``block_min_dl`` —
  avgdl-independent, so appends never stale it) makes query-time
  block-max pruning a plain column predicate, mirroring Lucene 8's
  block-max WAND.
* **One tokenize pass.** ``build_to_path`` stages the term-frequency
  table ``(term, doc_id, tf, dl)`` bucket-partitioned by
  ``pmod(xxhash64(term), n_buckets)`` — tokenization (the expensive scan
  over 100 TB of content) runs once; postings, dfreq AND doclen's dl all
  derive from the staged table (an unmaterialized plan would re-tokenize
  per consumer; doclen's remaining content scan computes only
  sha256 + metadata).
* **Memory-bandwidth-lean postings path** (round-2 event-log finding:
  the reduce stage is DRAM-bound, CPU inflating +67% at 4x threads):
  postings rows carry only ``(tid, doc_id, tf, dl)`` — 8-byte
  radix-sortable hash key, no strings, block_id/bucket derived — through
  shuffle + sort + the Arrow encoder; zstd shuffle/parquet trades bytes
  for CPU.
* **Checkpoint-resume + lineage** (north_rule): every build stage and
  every postings bucket-group commits a row to ``_lineage`` with metrics
  (docs tokenized, postings emitted, bytes compressed, tid injectivity);
  a re-run skips stages whose lineage row says ``done`` (index/lineage.py).
* **Query-side partition pruning**: postings are written
  ``partitionBy(bucket, seg)`` and sorted by (tid, doc_id), so a query
  for 3 terms reads 3 bucket directory subtrees and skips row groups via
  min/max stats on ``tid``; the ``seg`` (doc-range) level bounds C11
  overwrite's write amplification.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oni_indexer_spark.analyzer import analyzer_tokens, tokens_col
from oni_indexer_spark.index import lineage as L


# On-disk layout version: bump when the postings/dfreq schema changes so
# long-lived index paths are never read with mismatched code (v4 = SoA
# varint blobs with block-relative doc/dl bases; v3 = seg partition
# level for in-place overwrite; v2 = tid-keyed postings; v1 carried term
# strings). v5 = v4 plus a per-posting positions stream in the blob
# (IndexConfig.positions) — v4 indexes stay valid and are read as
# positions=False, so enabling phrase support never invalidates an
# existing non-positional index.
INDEX_FORMAT_VERSION = 4
POSITIONS_FORMAT_VERSION = 5


@dataclass(frozen=True)
class IndexConfig:
    """BM25 + layout parameters. k1/b are the Solr/Lucene defaults the
    reference relies on (SURVEY.md §2.C4; BASELINE.json pins them).

    ``seg_blocks``: blocks per segment directory. postings/doclen are
    partitioned by ``seg = block_id // seg_blocks`` (a doc-range of
    ``block_size * seg_blocks`` docs) in addition to bucket, so C11
    overwrite rewrites only the affected (bucket, seg) directories —
    the Lucene segment-rewrite analogue. Size it so a segment holds
    ~10^6-10^8 docs at the target corpus scale."""

    k1: float = 1.2
    b: float = 0.75
    block_size: int = 128
    n_buckets: int = 32
    seg_blocks: int = 8192
    analyzer: str = "code"
    meta_cols: tuple[str, ...] = ("repo", "path", "lang")
    # v5: store each posting's within-doc token positions (Lucene text
    # fields index positions by default — required for phrase queries,
    # SURVEY.md §2.C5 / portal_base.json:18-23). Opt-in: positions cost
    # the classic ~2-3x postings size and ride through the build shuffle.
    positions: bool = False

    @property
    def seg_docs(self) -> int:
        return self.block_size * self.seg_blocks


class IndexTables(NamedTuple):
    postings: DataFrame
    doclen: DataFrame
    dfreq: DataFrame
    stats: DataFrame
    cfg: IndexConfig
    # backing directory when opened via read_index — lets invalidation
    # refresh Spark's cached file listings after append/overwrite (a
    # parquet DataFrame pins the file index captured at read time)
    path: str | None = None


def _cfg_from_meta(meta: dict, path: str) -> IndexConfig:
    """Validate the on-disk format version and decode IndexConfig from
    index metadata. EVERY reader/mutator of an existing index goes
    through this — appending v3-layout files into a v1/v2 index would
    silently corrupt it, so a version mismatch fails loudly here."""
    fmt = meta.get("format", 1)
    if fmt not in (INDEX_FORMAT_VERSION, POSITIONS_FORMAT_VERSION):
        raise ValueError(
            f"index at {path} has on-disk format v{fmt}; this engine reads "
            f"v{INDEX_FORMAT_VERSION}/v{POSITIONS_FORMAT_VERSION} — rebuild "
            "with build_to_path"
        )
    if meta.get("compress") is False:
        # the retired uncompressed layout (posting struct arrays instead
        # of blobs) shares format v4 with the blob layout, so the
        # version check alone cannot refuse it
        raise ValueError(
            f"index at {path} uses the retired uncompressed postings layout; "
            "rebuild with build_to_path"
        )
    return IndexConfig(
        k1=meta["k1"],
        b=meta["b"],
        block_size=meta["block_size"],
        n_buckets=meta["n_buckets"],
        seg_blocks=meta["seg_blocks"],
        analyzer=meta["analyzer"],
        positions=(fmt == POSITIONS_FORMAT_VERSION),
    )


def term_bucket(term: Column, n_buckets: int) -> Column:
    """Stable bucket id for a term (partition pruning key)."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def _tf_table(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(term, doc_id, tf, dl, bucket [, positions]) — one row per
    distinct (term, doc).

    The groupBy key includes doc_id, so hot terms spread over the full
    doc space; Catalyst's partial aggregation (map-side combine) keeps
    the shuffle proportional to distinct (term, doc) pairs, not tokens.
    With ``cfg.positions``, each row also carries the term's ascending
    within-doc token positions (posexplode + partial-aggregated
    collect_list — the payload through the shuffle grows from 1 int to
    tf ints per row, the inherent cost of a positional index).
    """
    if cfg.positions:
        toks = docs.select(
            "doc_id", analyzer_tokens("content", cfg.analyzer).alias("toks")
        ).select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.posexplode("toks").alias("pos", "term"),
        )
        return (
            toks.groupBy("term", "doc_id", "dl")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
            .select(
                "term",
                "doc_id",
                "dl",
                F.size("positions").cast("int").alias("tf"),
                "positions",
            )
            .withColumn("bucket", term_bucket(F.col("term"), cfg.n_buckets))
        )
    toks = docs.select(
        "doc_id", analyzer_tokens("content", cfg.analyzer).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    )
    return (
        toks.groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .withColumn("bucket", term_bucket(F.col("term"), cfg.n_buckets))
    )


def _doclen_table(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    # NULL content normalizes to dl=0 (tokenizing NULL yields NULL size);
    # _doclen_from_tf's left-join path also coalesces no-tf docs to 0, so
    # cache-mode and disk-mode builds of a corpus containing null-content
    # docs produce the SAME avgdl and therefore the same BM25 scores.
    meta = [c for c in cfg.meta_cols if c in docs.columns]
    return docs.select(
        "doc_id",
        *meta,
        F.when(F.col("content").isNull(), F.lit(0))
        .otherwise(F.size(analyzer_tokens("content", cfg.analyzer)))
        .alias("dl"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        _seg_of(F.col("doc_id"), cfg).alias("seg"),
    )


def _doclen_from_tf(docs: DataFrame, tf: DataFrame, cfg: IndexConfig) -> DataFrame:
    """doclen derived from an already-materialized tf table — the content
    scan here computes ONLY sha256 + metadata; dl comes from the staged
    tf rows (every (term, doc) row carries the doc's dl), so the regex
    tokenize pass over the corpus runs exactly once per build. Docs with
    zero tokens have no tf rows → dl = 0 via the left join's coalesce.
    The dl aggregate is map-side combinable to n_docs rows, so the join
    shuffles O(n_docs), not O(postings)."""
    meta = [c for c in cfg.meta_cols if c in docs.columns]
    dl_per_doc = tf.groupBy("doc_id").agg(F.max("dl").alias("_dl"))
    return (
        docs.select(
            "doc_id", *meta, F.sha2(F.col("content"), 256).alias("content_sha256")
        )
        .join(dl_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            *meta,
            F.coalesce(F.col("_dl"), F.lit(0)).cast("int").alias("dl"),
            "content_sha256",
            _seg_of(F.col("doc_id"), cfg).alias("seg"),
        )
    )


def _seg_of(doc_id: Column, cfg: IndexConfig) -> Column:
    return F.floor(doc_id / cfg.seg_docs).cast("long")


_BLOCKS_OUT_SCHEMA = (
    "tid long, block_id long, n int, block_max_tf int, block_min_dl int, blob binary"
)


def _make_sorted_encoder(block_size: int, positions: bool = False):
    """Sort-based block encoder factory: the returned generator consumes
    (tid, doc_id, tf, dl [, positions]) rows SORTED by (tid, doc_id)
    within the partition and emits one encoded row per (tid, block_id)
    group, where ``block_id = doc_id // block_size`` is DERIVED here
    rather than shipped as a column. With ``positions`` the blob is the
    v5 positional layout (codec.encode_postings_pos_flat).

    Scaling rationale (round-2 event-log diagnosis): the postings reduce
    stage is memory-bandwidth bound — its total CPU inflated +67% from
    local[4] to local[16] on identical work — so every byte through
    shuffle + sort + the Arrow boundary costs twice. Postings rows
    therefore carry ``tid = xxhash64(term)`` (8 fixed bytes, radix-
    sortable prefix) instead of the term string, and no bucket/block_id
    columns (both derive from tid/doc_id). Measured at 1M docs: postings
    stage 118s→81s (local[4]), 54s→41s (local[16]).

    Group boundaries are found vectorized (shifted not-equal); a group
    whose tail continues into the next Arrow batch is carried over. The
    group stats (n, max tf, min dl) come from np reduceat — no JVM
    collect_list / sort_array object churn (event-log measured: the
    agg-based path spent 114s of GC in the map stage alone at 1M docs).
    """

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        from oni_indexer_spark.index.codec import (
            encode_postings_flat,
            encode_postings_pos_flat,
        )

        carry: pa.RecordBatch | None = None

        def emit(b: pa.RecordBatch, starts: "np.ndarray") -> pa.RecordBatch:
            idx = {n: i for i, n in enumerate(b.schema.names)}
            docs = b.column(idx["doc_id"]).to_numpy(zero_copy_only=False).astype(np.int64)
            tfs = b.column(idx["tf"]).to_numpy(zero_copy_only=False).astype(np.int64)
            dls = b.column(idx["dl"]).to_numpy(zero_copy_only=False).astype(np.int64)
            ends = np.append(starts[1:], len(b))
            counts = ends - starts
            block_ids = docs[starts] // block_size
            min_dls = np.minimum.reduceat(dls, starts)
            # v4: doc gaps relative to the block's doc-range start, dls
            # relative to block_min_dl — both already carried by the row
            if positions:
                # ListArray.flatten() respects the batch slice, so the
                # child values align 1:1 with the sliced postings
                pos_values = (
                    b.column(idx["positions"])
                    .flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                blobs = encode_postings_pos_flat(
                    docs, tfs, dls, pos_values, counts, block_ids * block_size, min_dls
                )
            else:
                blobs = encode_postings_flat(
                    docs, tfs, dls, counts, block_ids * block_size, min_dls
                )
            take = pa.array(starts)
            return pa.RecordBatch.from_arrays(
                [
                    b.column(idx["tid"]).take(take),
                    pa.array(block_ids, type=pa.int64()),
                    pa.array(counts.astype(np.int32), type=pa.int32()),
                    pa.array(np.maximum.reduceat(tfs, starts).astype(np.int32), type=pa.int32()),
                    pa.array(min_dls.astype(np.int32), type=pa.int32()),
                    pa.array(blobs, type=pa.binary()),
                ],
                names=["tid", "block_id", "n", "block_max_tf", "block_min_dl", "blob"],
            )

        def boundaries(b: pa.RecordBatch) -> "np.ndarray":
            import numpy as np

            n = len(b)
            idx = {nm: i for i, nm in enumerate(b.schema.names)}
            tid = b.column(idx["tid"]).to_numpy(zero_copy_only=False)
            blk = b.column(idx["doc_id"]).to_numpy(zero_copy_only=False) // block_size
            if n == 1:
                return np.array([0], dtype=np.int64)
            neq = (tid[1:] != tid[:-1]) | (blk[1:] != blk[:-1])
            return np.concatenate(([0], np.nonzero(neq)[0] + 1)).astype(np.int64)

        import numpy as np

        for b in batches:
            if carry is not None:
                b = pa.Table.from_batches([carry, b]).combine_chunks().to_batches()[0]
                carry = None
            if len(b) == 0:
                continue
            starts = boundaries(b)
            last_start = int(starts[-1])
            carry = b.slice(last_start)
            if last_start > 0:
                yield emit(b.slice(0, last_start), starts[:-1])
        if carry is not None and len(carry) > 0:
            yield emit(carry, np.array([0], dtype=np.int64))

    return encode


def _postings_blocks(tf: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Turn the tf table into encoded doc-range block rows keyed by
    ``tid = xxhash64(term)``.

    Block-max metadata is stored avgdl-INDEPENDENT as (block_max_tf,
    block_min_dl): BM25 saturation is increasing in tf and decreasing in
    dl, so tfn(max_tf, min_dl) under the CURRENT corpus avgdl is a valid
    per-block score bound even after later appends shift avgdl — appended
    segments never invalidate existing pruning metadata.

    Shuffle-sort slim (tid, doc_id, tf, dl) rows by (tid, doc_id) and
    run one linear numpy pass per partition (sort-based grouping —
    Lucene's segment flush is the same shape).
    Rows leave the encoder already sorted, so the parquet row groups get
    tid-clustered min/max stats for free. The term STRING never enters
    the shuffle/sort/Arrow path (see _make_sorted_encoder); exact strings
    live in the dfreq table, and build_to_path verifies tid uniqueness
    against it, so a (cosmically unlikely, 2^-64/pair) hash collision
    fails the build loudly instead of silently merging two terms.
    """
    cols = ["doc_id", "tf", "dl"] + (["positions"] if cfg.positions else [])
    slim = tf.select(F.xxhash64("term").alias("tid"), *cols)
    return _postings_blocks_tid(slim, cfg)


def _postings_blocks_tid(slim: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Encode already-hashed (tid, doc_id, tf, dl [, positions]) rows
    into block rows — the shared tail of full builds, appends, segment
    compaction and C11 segment rewrites (the latter two feed it decoded
    survivor postings that no longer have term strings; on a positional
    index those rows carry the decoded positions so the re-encode is
    lossless)."""
    has_pos = "positions" in slim.columns
    if cfg.positions and not has_pos:
        raise ValueError("positional index: encoder input must carry positions")
    bucket = F.pmod(F.col("tid"), F.lit(cfg.n_buckets)).cast("int").alias("bucket")
    seg = F.floor(F.col("block_id") / cfg.seg_blocks).cast("long").alias("seg")
    pre = slim.repartition(
        F.col("tid"), F.floor(F.col("doc_id") / cfg.block_size)
    ).sortWithinPartitions("tid", "doc_id")
    blocks = pre.mapInArrow(
        _make_sorted_encoder(cfg.block_size, positions=cfg.positions),
        _BLOCKS_OUT_SCHEMA,
    )
    return blocks.withColumn("bucket", bucket).withColumn("seg", seg)


def _dfreq_table(tf: DataFrame) -> DataFrame:
    return tf.groupBy("term", "bucket").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


def build_index(docs: DataFrame, cfg: IndexConfig | None = None) -> IndexTables:
    """In-memory (lazy) index build — no staging, for tests/small corpora.

    ``docs`` must have columns ``doc_id`` (long, unique) and ``content``;
    metadata columns named in ``cfg.meta_cols`` are carried into doclen.
    """
    cfg = cfg or IndexConfig()
    doclen = _doclen_table(docs, cfg)
    n_docs, avgdl = _collect_stats(doclen)
    spark = docs.sparkSession
    stats = _stats_df(spark, [(n_docs, avgdl)])
    tf = _tf_table(docs, cfg)
    return IndexTables(_postings_blocks(tf, cfg), doclen, _dfreq_table(tf), stats, cfg)


def _stats_df(spark: SparkSession, rows: list[tuple[int, float]]) -> DataFrame:
    """Stats rows as a LOCAL relation. ``createDataFrame([...])``
    parallelizes the rows over defaultParallelism mostly-empty slices,
    so writing them launches a 32-task job (measured 1-3.5s of pure
    scheduling at local[32]); literal SELECTs fold to a LocalRelation
    and write as one task. The avgdl double round-trips exactly through
    repr() + CAST(string AS DOUBLE)."""
    sels = [
        "SELECT CAST(%d AS BIGINT) AS n_docs, CAST('%r' AS DOUBLE) AS avgdl"
        % (int(n), float(a))
        for n, a in rows
    ]
    return spark.sql(" UNION ALL ".join(sels))


def _collect_stats(doclen: DataFrame) -> tuple[int, float]:
    row = doclen.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


def build_to_path(
    docs: DataFrame,
    path: str,
    cfg: IndexConfig | None = None,
    bucket_group_size: int = 8,
    resume: bool = True,
    stage_mode: str = "auto",
) -> None:
    """Materialize the index at ``path`` with checkpoint-resume + lineage.

    Stages (each a resumable unit with a lineage row):
      1. ``doclen`` + ``stats``  (tokenize pass; doc store + norms)
      2. ``tf`` staged table, bucket-partitioned (the single shuffle over
         all tokens; tokenization happens exactly once here too — stage 1
         only computes lengths)
      3. per bucket-group: postings blocks (+ varint encode) and dfreq,
         reading only that group's partitions of the staged tf table

    ``stage_mode``: how the tf table is shared between postings and
    dfreq. ``"disk"`` = parquet staging (resumable, bounded memory — the
    corpus-scale path); ``"cache"`` = ``persist()`` in one pass (skips
    the staging write+read, right for small corpora where fixed I/O/job
    overhead dominates); ``"auto"`` = disk at ≥200k docs else cache.
    """
    cfg = cfg or IndexConfig()
    spark = docs.sparkSession
    lin = L.Lineage(spark, path)

    # A single-file (single-row-group) corpus parquet scans as ONE task —
    # parquet can't split inside a row group — serializing the tokenize
    # pass no matter how many cores exist (measured: 5s of a 7s warm
    # build at 5k docs). Normalize scan parallelism up front; at corpus
    # scale input splits >> cores and this is a no-op.
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < min(target, 2 * cfg.n_buckets):
        docs = docs.repartition(min(target, 2 * cfg.n_buckets))

    if stage_mode == "auto":
        # decide with ZERO Spark jobs when the source is file-backed
        # (driver-side stat of the input files — a perf knob only, so a
        # coarse size threshold is fine); fall back to a metadata-cheap
        # parquet count for synthetic/in-memory frames
        size = None
        try:
            files = docs.inputFiles()
            if files:
                # Hadoop FileStatus, not os.stat: inputFiles() URIs may be
                # hdfs:/s3a: on the real cluster (r3 VERDICT #4)
                from oni_indexer_spark.fsio import Fs

                stat_fs = Fs(files[0], spark)
                size = sum(stat_fs.size(f) for f in files)
        except Exception:
            size = None
        if size is not None:
            stage_mode = "disk" if size >= 64 * 1024 * 1024 else "cache"
        else:
            stage_mode = "disk" if docs.count() >= 200_000 else "cache"

    # The tf table is MATERIALIZED exactly once and it is the ONLY
    # tokenize pass of the build: postings, dfreq AND doclen's dl all
    # derive from it (an unmaterialized plan would re-run the regex scan
    # over the full corpus once per consumer).
    # disk mode (corpus scale): parquet staging — measured at 1M docs
    # ~25s (write+read) vs ~40s for one extra tokenize+agg, plus resume
    # granularity and bucket-pruned group reads. cache mode (small
    # corpora): persist() — skips the staging I/O that dominates there.
    if stage_mode == "disk":
        if not (resume and lin.is_done("tf_stage")):
            t0 = lin.start("tf_stage")
            tf = _tf_table(docs, cfg)
            # repartition by bucket routes each reduce task to one bucket
            # directory (few output files); NO sort — postings re-sort by
            # (tid, doc_id) anyway and dfreq is order-insensitive, so a
            # term sort here would be 82M string comparisons for nothing
            # but marginally better parquet RLE (measured: it cost ~20%
            # of the whole build at local[4]).
            (
                tf.repartition(cfg.n_buckets, "bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(f"{path}/tf_stage")
            )
            lin.finish("tf_stage", t0)
        tf_staged = spark.read.parquet(f"{path}/tf_stage")
        groups = [
            list(range(g, min(g + bucket_group_size, cfg.n_buckets)))
            for g in range(0, cfg.n_buckets, bucket_group_size)
        ]
    else:
        tf_staged = _tf_table(docs, cfg).persist()
        # Eager cache fill: ONE action materializes the tokenize into the
        # cache before the concurrent consumers below fan out, so neither
        # doclen nor postings races the regex scan (block-level locks
        # would serialize a race anyway — this keeps the fill a single
        # clean job and every consumer a pure cache read).
        tf_staged.count()
        groups = [list(range(cfg.n_buckets))]  # one pass; cache is shared

    from pyspark.sql import Observation

    def _doclen_stage() -> None:
        t0 = lin.start("doclen")
        obs = Observation("doclen_stats")
        # No range repartition: it costs a sampling job + a full shuffle,
        # and input partitions are already doc_id-ordered in practice, so
        # parquet min/max stats on doc_id still prune id lookups. (Also:
        # an observe BELOW repartitionByRange double-counts — the sampling
        # pass re-executes the child plan; caught by the parity test.)
        # BOTH modes: dl derives from the staged tf table — the content
        # scan computes only sha256 + metadata, so the regex tokenize
        # runs ONCE per build (disk mode: over 100 TB; cache mode: the
        # fill above). r6 re-measure at 50k docs: from-tf doclen
        # 1.4-1.6s vs direct re-tokenize 1.7-2.1s, and the tokenize pass
        # the direct path re-ran is gone from the postings stage
        # entirely.
        doclen_src = _doclen_from_tf(docs, tf_staged, cfg)
        doclen = doclen_src.observe(
            obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        )
        doclen.write.mode("overwrite").partitionBy("seg").parquet(f"{path}/doclen")
        # stats ride along with the write job (Observation) — no re-read
        n_docs, avgdl = int(obs.get["n"]), float(obs.get["avgdl"] or 0.0)
        _stats_df(spark, [(n_docs, avgdl)]).write.mode("overwrite").parquet(
            f"{path}/stats"
        )
        lin.finish("doclen", t0, docs_tokenized=n_docs)

    def _dfreq_write(tf_g: DataFrame) -> None:
        (
            # sortWithinPartitions("term"): dfreq files carry tight
            # parquet min/max term stats, so prefix/fuzzy dictionary
            # expansion (Searcher.expand_prefix / expand_fuzzy) prunes
            # rowgroups via the pushed-down StartsWith instead of
            # scanning the whole vocabulary. Local sort of vocab-sized
            # rows — measured noise on the build (dfreq is the smallest
            # stage).
            # ("bucket", "term"): leading with the write's partition
            # column satisfies FileFormatWriter's required ordering, so
            # no second (term-order-destroying) sort is inserted.
            _dfreq_table(tf_g).sortWithinPartitions("bucket", "term")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{path}/dfreq")
        )

    # Overlap independent jobs (guide §2.6): after the tf table is
    # materialized, doclen+stats, the postings encode and the dfreq
    # write are INDEPENDENT consumers of it (distinct output dirs,
    # per-stage lineage files) — actions were only sequential because
    # the driver called them sequentially. doclen runs in a sibling
    # thread across the group loop; each group's dfreq write overlaps
    # its (heavier) postings write; tid_check (needs only dfreq) runs
    # before joining doclen. Serial path measured at 50k docs: fill 0.9
    # + doclen 0.9 + postings 1.2 + dfreq 0.7 + tid_check 0.35 ≈ 4.2s;
    # overlapped ≈ fill + max(legs). 2-3 jobs in flight — enough to
    # back-fill each job's straggler tail, not enough to thrash. Py4j
    # and Hadoop FileSystem are thread-safe; lineage is one file per
    # stage; failures re-raise on .result() below.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        doclen_fut = (
            pool.submit(_doclen_stage)
            if not (resume and lin.is_done("doclen"))
            else None
        )
        try:
            for group in groups:
                stage = f"postings_g{group[0]:04d}"
                if resume and lin.is_done(stage):
                    continue
                t0 = lin.start(stage)
                tf_g = tf_staged.where(F.col("bucket").isin(group))
                pobs = Observation(f"postings_metrics_{stage}")
                # No repartition-by-bucket before the write: that made ONE
                # task per bucket and head-term buckets are heavy
                # (measured: postings stage nearly thread-count-
                # independent). The sort-based encoder emits rows already
                # sorted by (term, block_id) within each hash-spread
                # partition; partitionBy(bucket) still routes rows into
                # bucket directories, at the cost of more files per
                # bucket.
                blocks = _postings_blocks(tf_g, cfg).observe(
                    pobs, F.sum("n").alias("np"), F.sum(F.length("blob")).alias("nb")
                )
                dfreq_fut = pool.submit(_dfreq_write, tf_g)
                # Dynamic partition overwrite (per-write option — never
                # leaks into the caller's session conf): each bucket-
                # group's write replaces only its own bucket=...
                # directories, so a resumed build never clobbers completed
                # groups and a re-run of a half-written group is
                # idempotent.
                (
                    blocks.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket", "seg")
                    .parquet(f"{path}/postings")
                )
                # the group's lineage record covers BOTH writes — resume
                # re-runs postings+dfreq together, exactly as before
                dfreq_fut.result()
                lin.finish(
                    stage,
                    t0,
                    postings_emitted=int(pobs.get["np"] or 0),
                    bytes_compressed=int(pobs.get["nb"] or 0),
                )
            _tid_check(spark, lin, path, resume)
        finally:
            # join doclen even on a postings failure so the pool never
            # leaks a running stage past the raise
            if doclen_fut is not None:
                doclen_fut.result()

    if stage_mode != "disk":
        tf_staged.unpersist()
    lin.write_meta(
        {
            "format": (
                POSITIONS_FORMAT_VERSION if cfg.positions else INDEX_FORMAT_VERSION
            ),
            "k1": cfg.k1,
            "b": cfg.b,
            "block_size": cfg.block_size,
            "n_buckets": cfg.n_buckets,
            "seg_blocks": cfg.seg_blocks,
            "analyzer": cfg.analyzer,
        }
    )


def _tid_check(spark: SparkSession, lin, path: str, resume: bool) -> None:
    if not (resume and lin.is_done("tid_check")):
        # Postings are keyed by tid = xxhash64(term); dfreq keeps the
        # exact strings. Verify injectivity over THIS corpus's vocabulary
        # so a collision fails the build instead of silently merging two
        # terms' postings (P ≈ n_terms²/2^65 — never expected to fire).
        t0 = lin.start("tid_check")
        row = (
            spark.read.parquet(f"{path}/dfreq")
            .agg(
                F.countDistinct("term").alias("nt"),
                F.countDistinct(F.xxhash64("term")).alias("nh"),
            )
            .collect()[0]
        )
        if int(row["nt"]) != int(row["nh"]):
            raise RuntimeError(
                f"xxhash64 term-id collision: {row['nt']} terms -> {row['nh']} tids"
            )
        lin.finish("tid_check", t0, terms=int(row["nt"]))


def append_to_index(docs_new: DataFrame, path: str, batch_id: str | None = None) -> None:
    """Append-only incremental indexing (the reference's commit/overwrite
    cycle, ``oni-indexer.js:158-160``, SURVEY.md §2.C11 — Lucene-segment
    style: new docs form new segments, never rewrites).

    Requires fresh doc_ids (min(new) > max(existing)), so postings,
    dfreq, doclen and stats are pure appends — and the avgdl-independent
    block bounds keep pruning lossless as avgdl drifts. Appended docs do
    NOT always land in new blocks: when min(new) is not a multiple of
    block_size, the boundary block gets a second row per term, one per
    segment (tests/test_append.py splits at 300/400 with block_size=64,
    so blocks 4 and 6 hold one row per segment for each term present on
    both sides of the split). Every (tid, doc) pair is still unique, and
    the block-aligned kernels rely on co-location (``_colocate_blocks``
    brings all of a block's rows together), not on one row per (tid,
    block). Query-side, Searcher
    sums dfreq segments and weight-averages stats segments, so an
    appended index answers queries EXACTLY like a full rebuild
    (tests/test_append.py).
    """
    spark = docs_new.sparkSession
    _replay_pending_swap(path, spark)
    lin = L.Lineage(spark, path)
    cfg = _cfg_from_meta(lin.read_meta(), path)
    new_min = docs_new.agg(F.min("doc_id")).collect()[0][0]
    if new_min is None:
        return
    stage = f"append_{batch_id if batch_id is not None else new_min}"
    if lin.is_done(stage):
        return  # replayed micro-batch (foreachBatch is at-least-once): skip
    existing_max = spark.read.parquet(f"{path}/doclen").agg(F.max("doc_id")).collect()[0][0]
    if existing_max is not None and new_min <= existing_max:
        raise ValueError(
            f"append requires fresh doc_ids: min(new)={new_min} <= max(existing)={existing_max}"
        )
    t0 = lin.start(stage)

    from pyspark.sql import Observation

    # one tokenize pass per batch: tf is persisted and doclen's dl,
    # postings and dfreq all derive from it (unmaterialized, each of the
    # three consumers would re-run the regex scan); the fill is ONE
    # eager action so the concurrent consumers below read the cache
    tf = _tf_table(docs_new, cfg).persist()
    tf.count()

    def _doclen_leg() -> int:
        obs = Observation(f"append_stats_{stage}")
        doclen = _doclen_from_tf(docs_new, tf, cfg).observe(
            obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        )
        doclen.write.mode("append").partitionBy("seg").parquet(f"{path}/doclen")
        n = int(obs.get["n"])
        _stats_df(spark, [(n, float(obs.get["avgdl"] or 0.0))]).write.mode(
            "append"
        ).parquet(f"{path}/stats")
        return n

    def _dfreq_leg() -> None:
        _dfreq_table(tf).write.mode("append").partitionBy("bucket").parquet(
            f"{path}/dfreq"
        )

    # overlap the three independent consumers (guide §2.6, same shape as
    # build_to_path): doclen+stats and dfreq in sibling threads, the
    # (heavier) postings encode on this one; distinct output dirs, one
    # lineage record for the whole batch (finish only after ALL legs)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        doclen_fut = pool.submit(_doclen_leg)
        dfreq_fut = pool.submit(_dfreq_leg)
        blocks = _postings_blocks(tf, cfg)
        blocks.write.mode("append").partitionBy("bucket", "seg").parquet(
            f"{path}/postings"
        )
        dfreq_fut.result()
        n_docs = doclen_fut.result()
    tf.unpersist()
    lin.finish(stage, t0, docs_tokenized=n_docs)
    lin.bump_generation()
    # searchers memoize N/avgdl/df; the index just grew under them
    from oni_indexer_spark.query.bm25 import invalidate_searchers

    invalidate_searchers(path)


def overwrite_docs(
    docs_new: DataFrame,
    path: str,
    batch_id: str | None = None,
    _fault_after_stage: bool = False,
) -> None:
    """C11 same-id overwrite — the reference's everyday re-index cycle
    (``oni-indexer.js:160`` posts with ``overwrite=true``; Solr replaces
    the doc). ``docs_new`` may carry EXISTING doc_ids (replaced) and/or
    new ones (added); after this call, queries answer exactly as a fresh
    build over the updated corpus (tests/test_overwrite.py).

    Write amplification is bounded by the seg partition level: only the
    (bucket, seg) postings directories and seg doclen directories whose
    doc-ranges contain changed docs are rewritten (merged data staged to
    sibling ``.next`` dirs, then swapped in — see the inline note on why
    NOT dynamic partition overwrite) — the Lucene segment-rewrite
    analogue, everything else is untouched. Exactness bookkeeping:

    - postings: affected segs decode → survivors (anti-join changed ids)
      union the new docs' postings → re-encode. Block-max metadata of
      rewritten blocks is recomputed; other blocks keep theirs (bounds
      are avgdl-independent, still valid as avgdl drifts).
    - dfreq: exact correction — decrements from the decoded old postings
      of changed docs, increments from the new tf table; terms reaching
      df=0 are dropped. Swapped in via a staging dir.
    - stats: two appended correction rows (−n_removed at the removed
      docs' avgdl, +n_new at theirs); Searcher's weighted sum stays
      exact.

    Crash safety (raw-parquet snapshot-swap, the Iceberg-commit analogue):
    every rewritten table is first STAGED side-by-side (``postings.next``,
    ``doclen.next``, ``dfreq.next``, ``stats.next``) while the live index
    keeps answering queries; then a durable swap manifest
    (``_pending_swap.json``) is written and the swap — per-directory
    delete+rename — is applied by :func:`_apply_swap`. A crash BEFORE the
    manifest leaves the live index untouched (stale ``.next`` dirs are
    overwritten by the next attempt); a crash DURING the swap is healed by
    replaying the manifest (idempotent: each staged dir is renamed at most
    once) — ``read_index`` and the mutators replay it automatically.
    ``_fault_after_stage`` is a test hook simulating a crash right after
    the manifest write (tests/test_overwrite.py crash-injection).
    """
    spark = docs_new.sparkSession
    _replay_pending_swap(path, spark)
    lin = L.Lineage(spark, path)
    cfg = _cfg_from_meta(lin.read_meta(), path)
    ids_row = docs_new.agg(
        F.min("doc_id").alias("lo"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if ids_row["n"] == 0:
        return
    stage = f"overwrite_{batch_id if batch_id is not None else ids_row['lo']}"
    if lin.is_done(stage):
        return
    t0 = lin.start(stage)

    from oni_indexer_spark.query.bm25 import _decoded, invalidate_searchers

    segs = [
        r["s"]
        for r in docs_new.select(_seg_of(F.col("doc_id"), cfg).alias("s")).distinct().collect()
    ]
    changed = docs_new.select("doc_id").distinct()

    # --- old state of the affected segments
    doclen_all = spark.read.parquet(f"{path}/doclen")
    doclen_seg = doclen_all.where(F.col("seg").isin(segs))
    rem = doclen_seg.join(changed, "doc_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_removed, avgdl_removed = int(rem["n"]), float(rem["avgdl"] or 0.0)

    # decoded/tokenized ONCE, consumed twice each (guide §1.2): without
    # the persists the dfreq and postings .next writes re-ran the full
    # blob decode of the affected segs AND the tokenize of the new docs;
    # bounded by the affected segs / the overwrite batch respectively.
    from pyspark import StorageLevel

    post_seg = spark.read.parquet(f"{path}/postings").where(F.col("seg").isin(segs))
    old_rows = _decoded(post_seg, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    survivors = old_rows.join(changed, "doc_id", "left_anti")
    killed = old_rows.join(changed, "doc_id", "left_semi")

    # --- dfreq: exact decrement/increment, staged then swapped
    tf_new = _tf_table(docs_new, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    dec = killed.groupBy("tid").agg(
        F.count(F.lit(1)).alias("df_dec"), F.sum("tf").alias("cf_dec")
    )
    inc = tf_new.groupBy("term", "bucket").agg(
        F.count(F.lit(1)).alias("df_inc"), F.sum("tf").alias("cf_inc")
    )
    dfreq_old = spark.read.parquet(f"{path}/dfreq").withColumn(
        "tid", F.xxhash64("term")
    )
    merged_df = (
        dfreq_old.join(inc, ["term", "bucket"], "full_outer")
        .withColumn("tid", F.coalesce(F.col("tid"), F.xxhash64("term")))
        .join(dec, "tid", "left")
        .select(
            "term",
            "bucket",
            (
                F.coalesce(F.col("df"), F.lit(0))
                - F.coalesce(F.col("df_dec"), F.lit(0))
                + F.coalesce(F.col("df_inc"), F.lit(0))
            ).alias("df"),
            (
                F.coalesce(F.col("cf"), F.lit(0))
                - F.coalesce(F.col("cf_dec"), F.lit(0))
                + F.coalesce(F.col("cf_inc"), F.lit(0))
            ).alias("cf"),
        )
        .where(F.col("df") > 0)
    )
    merged_df.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/dfreq.next")

    # --- postings + doclen: stage the merged affected segs side-by-side.
    # NOT dynamic-overwrite on the live dirs: a (bucket, seg) dir whose
    # every posting belonged to changed docs would produce no new rows,
    # and dynamic overwrite only replaces partitions PRESENT in the new
    # data — the stale dir would survive. The staged write is also what
    # makes the mutation crash-safe: the live index is untouched (and
    # still serving queries) until the manifest-driven swap below, and
    # writing to a sibling dir closes the read-your-sources hazard that
    # previously needed a localCheckpoint.
    pos_cols = ["positions"] if cfg.positions else []
    new_slim = tf_new.select(
        F.xxhash64("term").alias("tid"), "doc_id", "tf", "dl", *pos_cols
    )
    blocks = _postings_blocks_tid(
        survivors.select("tid", "doc_id", "tf", "dl", *pos_cols).unionByName(new_slim),
        cfg,
    )
    blocks.write.mode("overwrite").partitionBy("bucket", "seg").parquet(
        f"{path}/postings.next"
    )
    old_rows.unpersist()
    keep_cols = list(doclen_seg.columns)
    # new docs' doclen: dl from the PERSISTED tf (no third tokenize —
    # same derivation the build uses), and the write carries an
    # Observation so the stats row no longer re-runs _doclen_table
    from pyspark.sql import Observation

    nobs = Observation(f"overwrite_new_stats_{stage}")
    new_doclen = (
        _doclen_from_tf(docs_new, tf_new, cfg)
        .select(*keep_cols)
        .observe(nobs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    )
    doclen_merged = doclen_seg.join(changed, "doc_id", "left_anti").unionByName(
        new_doclen
    )
    doclen_merged.write.mode("overwrite").partitionBy("seg").parquet(
        f"{path}/doclen.next"
    )
    tf_new.unpersist()

    # --- stats correction rows (staged; appended to stats/ by the swap)
    rows = [(int(nobs.get["n"]), float(nobs.get["avgdl"] or 0.0))]
    if n_removed:
        rows.append((-n_removed, avgdl_removed))
    _stats_df(spark, rows).write.mode("overwrite").parquet(f"{path}/stats.next")

    swap_fs = _fs_for(path, spark)
    _write_swap_manifest(path, segs, cfg.n_buckets, swap_fs)
    if _fault_after_stage:  # crash-injection point (tests/test_overwrite.py)
        raise RuntimeError("injected crash: swap manifest written, swap not applied")
    _apply_swap(path, swap_fs)
    lin.finish(stage, t0, docs_tokenized=int(ids_row["n"]), docs_removed=n_removed)
    lin.bump_generation()
    invalidate_searchers(path)


def delete_docs(
    path: str,
    spark: SparkSession | None = None,
    doc_ids=None,
    fq: dict | None = None,
    batch_id: str | None = None,
    _fault_after_stage: bool = False,
) -> int:
    """Solr delete-by-id / delete-by-query (the reference's index uses
    Solr's ``deleteByQuery`` — ``--purge`` wipes with ``*:*``; this is
    the targeted form). ``doc_ids`` (a list or a 1-column DataFrame)
    and/or ``fq`` (the same metadata-predicate dict every query mode
    accepts — equality / ``("neq", v)`` / ``("range", lo, hi)``, applied
    to doclen) select the condemned docs — their UNION when both are
    given (two Solr delete requests batched into one swap); after the
    call, queries answer exactly as a fresh build over the remaining
    corpus. Returns the number of docs removed.

    Same bounded write amplification and crash safety as
    :func:`overwrite_docs` (this is its subtractive half): only the
    (bucket, seg) directories containing condemned docs are rewritten —
    survivors decode → re-encode to staged ``.next`` dirs; dfreq gets
    exact decrements (terms reaching df=0 dropped); stats gets one
    ``(-n_removed, avgdl_removed)`` correction row; a seg whose every
    doc is condemned is removed via the manifest's ``deletes`` side.
    The durable ``_pending_swap.json`` → :func:`_apply_swap` sequence
    makes a crash at any point replayable while the live index keeps
    serving."""
    from oni_indexer_spark.query.bm25 import _decoded, _fq_keep, invalidate_searchers

    spark = spark or SparkSession.getActiveSession()
    _replay_pending_swap(path, spark)
    lin = L.Lineage(spark, path)
    cfg = _cfg_from_meta(lin.read_meta(), path)
    if doc_ids is None and fq is None:
        raise ValueError("delete_docs needs doc_ids and/or fq")

    doclen_all = spark.read.parquet(f"{path}/doclen")
    parts = []
    if fq is not None:
        parts.append(_fq_keep(doclen_all, fq).select("doc_id"))
    if doc_ids is not None:
        if isinstance(doc_ids, DataFrame):
            parts.append(
                doclen_all.join(doc_ids.select("doc_id"), "doc_id", "left_semi")
                .select("doc_id")
            )
        else:
            parts.append(
                doclen_all.where(
                    F.col("doc_id").isin([int(i) for i in doc_ids])
                ).select("doc_id")
            )
    changed = parts[0]
    for p_ in parts[1:]:
        changed = changed.unionByName(p_)
    changed = changed.distinct()
    cond = doclen_all.join(changed, "doc_id", "left_semi")

    rem = cond.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        F.min("doc_id").alias("lo"),
    ).collect()[0]
    n_removed, avgdl_removed = int(rem["n"]), float(rem["avgdl"] or 0.0)
    if n_removed == 0:
        return 0
    stage = f"delete_{batch_id if batch_id is not None else rem['lo']}"
    if lin.is_done(stage):
        return n_removed
    t0 = lin.start(stage)

    segs = [
        r["s"]
        for r in changed.select(_seg_of(F.col("doc_id"), cfg).alias("s"))
        .distinct()
        .collect()
    ]

    # decoded ONCE, consumed twice (dfreq decrement via `killed`, postings
    # re-encode via `survivors`): without the persist each .next write
    # re-ran the full blob decode of the affected segs — the delete's
    # dominant cost (guide §1.2: don't compute things you throw away).
    # MEMORY_AND_DISK: bounded by the affected segs (the same bound as
    # the write amplification), spills instead of OOMing on a huge seg.
    from pyspark import StorageLevel

    post_seg = spark.read.parquet(f"{path}/postings").where(F.col("seg").isin(segs))
    old_rows = _decoded(post_seg, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    survivors = old_rows.join(changed, "doc_id", "left_anti")
    killed = old_rows.join(changed, "doc_id", "left_semi")

    # dfreq: exact decrement (the subtractive half of overwrite's merge)
    dec = killed.groupBy("tid").agg(
        F.count(F.lit(1)).alias("df_dec"), F.sum("tf").alias("cf_dec")
    )
    dfreq_old = spark.read.parquet(f"{path}/dfreq").withColumn(
        "tid", F.xxhash64("term")
    )
    merged_df = (
        dfreq_old.join(dec, "tid", "left")
        .select(
            "term",
            "bucket",
            (F.col("df") - F.coalesce(F.col("df_dec"), F.lit(0))).alias("df"),
            (F.col("cf") - F.coalesce(F.col("cf_dec"), F.lit(0))).alias("cf"),
        )
        .where(F.col("df") > 0)
    )
    merged_df.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/dfreq.next"
    )

    pos_cols = ["positions"] if cfg.positions else []
    blocks = _postings_blocks_tid(
        survivors.select("tid", "doc_id", "tf", "dl", *pos_cols), cfg
    )
    blocks.write.mode("overwrite").partitionBy("bucket", "seg").parquet(
        f"{path}/postings.next"
    )
    old_rows.unpersist()
    doclen_seg = doclen_all.where(F.col("seg").isin(segs))
    doclen_seg.join(changed, "doc_id", "left_anti").write.mode(
        "overwrite"
    ).partitionBy("seg").parquet(f"{path}/doclen.next")

    _stats_df(spark, [(-n_removed, avgdl_removed)]).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats.next")

    swap_fs = _fs_for(path, spark)
    _write_swap_manifest(path, segs, cfg.n_buckets, swap_fs)
    if _fault_after_stage:  # crash-injection point (tests/test_overwrite.py)
        raise RuntimeError("injected crash: swap manifest written, swap not applied")
    _apply_swap(path, swap_fs)
    lin.finish(stage, t0, docs_removed=n_removed)
    lin.bump_generation()
    invalidate_searchers(path)
    return n_removed


def compact_index(
    path: str,
    spark: SparkSession | None = None,
    batch_id: str | None = None,
    segs: list[int] | None = None,
) -> dict:
    """Merge appended/streamed segments into a consolidated layout — the
    half of Lucene's model the reference gets for free from Solr's
    background segment merging (``schema.json``; the per-doc commit loop
    ``oni-indexer.js:158-160`` relies on it) and the r4 VERDICT's top
    ask: without it a long-lived incremental index degrades monotonically
    (measured: 11 append segments cost ~3x on multi-term queries vs a
    monolithic build — per-segment small parquet files defeat the
    scan/prune layout, and boundary blocks split across appends decode
    as multiple rows).

    What it does (all staged side-by-side, then atomically swapped via
    the same durable-manifest machinery as :func:`overwrite_docs`, so
    the live index keeps answering queries throughout and a crash at any
    point is replayable):

    - **postings**: decode → re-encode through the build's own
      sort-based blocked encoder, then repartition the COMPRESSED block
      rows by (bucket, seg) so each partition directory lands as one
      tid-sorted file — boundary blocks merge into single rows and
      row-group min/max stats on tid become tight again.
    - **doclen**: rewritten one file per seg, sorted by doc_id (tight
      min/max for id lookups).
    - **dfreq**: per-segment rows summed to one row per term.
    - **stats**: the per-segment rows (including overwrite's signed
      correction rows) collapse to a single weighted row
      (``stats_mode: replace`` in the swap manifest).

    ``segs``: compact only these doc-range segments (postings + doclen;
    dfreq/stats are global and always consolidated). Default = all —
    the Lucene force-merge analogue, O(index) cost and ~2x transient
    space like any merge; at north-star scale run it per seg-range batch
    so each swap manifest stays bounded.

    Returns a metrics dict (segments, files before/after). Queries
    against the compacted index are exactly those against the
    uncompacted one (tests/test_append.py), because decode→encode is a
    lossless round-trip, block-max metadata is recomputed from the same
    postings, and the weighted stats row reproduces the same (N, avgdl).
    """
    spark = spark or SparkSession.getActiveSession()
    _replay_pending_swap(path, spark)
    lin = L.Lineage(spark, path)
    cfg = _cfg_from_meta(lin.read_meta(), path)
    n_compacts = sum(1 for r in lin.records() if r["stage"].startswith("compact_"))
    stage = f"compact_{batch_id if batch_id is not None else n_compacts}"
    if lin.is_done(stage):
        return {}
    t0 = lin.start(stage)

    postings = spark.read.parquet(f"{path}/postings")
    doclen = spark.read.parquet(f"{path}/doclen")
    if segs is None:
        segs = [r["seg"] for r in doclen.select("seg").distinct().collect()]
    files_before = len(postings.inputFiles()) + len(doclen.inputFiles())

    target = max(spark.sparkContext.defaultParallelism, 1)
    n_pairs = max(1, min(4096, len(segs) * cfg.n_buckets))

    # --- postings: decode the affected segs and push them back through
    # the build's blocked encoder (merges split boundary blocks), then a
    # cheap second shuffle of the COMPRESSED rows clusters each
    # (bucket, seg) directory into one sorted file.
    from oni_indexer_spark.query.bm25 import _decoded

    post_seg = postings.where(F.col("seg").isin(segs))
    rows = _decoded(post_seg, cfg)
    pos_cols = ["positions"] if cfg.positions else []
    blocks = _postings_blocks_tid(
        rows.select("tid", "doc_id", "tf", "dl", *pos_cols), cfg
    )
    (
        blocks.repartition(n_pairs, "bucket", "seg")
        .sortWithinPartitions("tid", "block_id")
        .write.mode("overwrite")
        .partitionBy("bucket", "seg")
        .parquet(f"{path}/postings.next")
    )

    # --- doclen: one sorted file per seg
    doclen_seg = doclen.where(F.col("seg").isin(segs))
    (
        doclen_seg.repartition(max(1, min(len(segs), target)), "seg")
        .sortWithinPartitions("seg", "doc_id")
        .write.mode("overwrite")
        .partitionBy("seg")
        .parquet(f"{path}/doclen.next")
    )

    # --- dfreq: sum the per-segment rows (terms whose df net out to zero
    # after overwrite corrections are already gone — overwrite swaps in a
    # consolidated dfreq — but keep the guard for safety)
    (
        spark.read.parquet(f"{path}/dfreq")
        .groupBy("term", "bucket")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .where(F.col("df") > 0)
        .repartition(cfg.n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/dfreq.next")
    )

    # --- stats: single weighted row, replacing the per-segment rows
    stats_rows = spark.read.parquet(f"{path}/stats").collect()
    n_total = sum(int(r["n_docs"]) for r in stats_rows)
    total_dl = sum(int(r["n_docs"]) * float(r["avgdl"]) for r in stats_rows)
    _stats_df(
        spark, [(n_total, (total_dl / n_total) if n_total else 0.0)]
    ).write.mode("overwrite").parquet(f"{path}/stats.next")

    swap_fs = _fs_for(path, spark)
    _write_swap_manifest(path, segs, cfg.n_buckets, swap_fs, stats_mode="replace")
    _apply_swap(path, swap_fs)

    spark.catalog.refreshByPath(path)
    files_after = len(spark.read.parquet(f"{path}/postings").inputFiles()) + len(
        spark.read.parquet(f"{path}/doclen").inputFiles()
    )
    lin.finish(
        stage,
        t0,
        segments_compacted=len(segs),
        files_before=files_before,
        files_after=files_after,
    )
    lin.bump_generation()
    from oni_indexer_spark.query.bm25 import invalidate_searchers

    invalidate_searchers(path)
    return {
        "segments_compacted": len(segs),
        "files_before": files_before,
        "files_after": files_after,
    }


# --- overwrite swap machinery: stage → durable manifest → idempotent swap
#
# All I/O goes through the Hadoop FileSystem API (fsio.Fs) — the swap
# must work where the index actually lives at north-star scale
# (HDFS/S3A/...), where os.rename does not exist (r3 VERDICT #4). On
# ``file:`` paths Hadoop resolves to the local filesystem, so the
# crash-injection tests exercise the identical code path.


def _swap_manifest_path(path: str) -> str:
    return path.rstrip("/") + "/_pending_swap.json"


def _fs_for(path: str, spark: SparkSession | None = None):
    from oni_indexer_spark.fsio import Fs

    return Fs(path, spark)


def _write_swap_manifest(
    path: str, segs: list, n_buckets: int, fs, stats_mode: str = "append"
) -> None:
    """Record, BEFORE any live-dir mutation, exactly which directories the
    swap will replace (staged dir exists → move) or remove (no staged
    counterpart → a (bucket, seg) whose every posting was overwritten
    away). Written via tmp + rename so a torn manifest is never observed
    on an atomic-rename filesystem; a LOST manifest (non-atomic store) is
    equivalent to a crash before the manifest — live index untouched."""
    moves: list[list[str]] = []  # [staged_rel, live_rel]
    deletes: list[str] = []  # live_rel with no replacement
    base = path.rstrip("/")
    for s in segs:
        rel = f"doclen/seg={s}"
        if fs.is_dir(f"{base}/doclen.next/seg={s}"):
            moves.append([f"doclen.next/seg={s}", rel])
        else:
            deletes.append(rel)
        for b in range(n_buckets):
            rel = f"postings/bucket={b}/seg={s}"
            staged = f"postings.next/bucket={b}/seg={s}"
            if fs.is_dir(f"{base}/{staged}"):
                moves.append([staged, rel])
            else:
                deletes.append(rel)
    man = {"moves": moves, "deletes": deletes, "stats_mode": stats_mode}
    fs.write_bytes_atomic(_swap_manifest_path(path), json.dumps(man).encode())


def _checked_rename(fs, src: str, dst: str) -> None:
    """Hadoop ``FileSystem.rename`` reports failure by returning false
    (dst exists, missing parent, transient store error) rather than
    raising — unlike the os.rename it replaced. A silently failed swap
    step would fall through to deleting the staged dirs and the manifest,
    leaving the index unreplayably broken (r4 ADVICE) — so every swap
    rename raises BEFORE the manifest is removed, keeping the swap
    replayable."""
    if not fs.rename(src, dst):
        raise IOError(f"swap rename failed: {src} -> {dst}")


def _apply_swap(path: str, fs) -> None:
    """Apply (or re-apply after a crash) a pending overwrite swap. Every
    step is idempotent: deletes are of dirs that are never recreated;
    each staged dir is renamed at most once (skipped when already moved);
    staged stats part-files move individually (unique part names) —
    appended by default, or replacing the stats dir when the manifest
    says ``stats_mode: replace`` (compaction collapses the per-segment
    rows to one); dfreq.next replaces dfreq only while it still exists.
    Renames are return-checked (:func:`_checked_rename`), and the
    manifest is removed LAST, so any prefix of this function can be
    replayed."""
    mpath = _swap_manifest_path(path)
    if not fs.exists(mpath):
        return
    man = json.loads(fs.read_bytes(mpath))
    base = path.rstrip("/")
    for rel in man["deletes"]:
        fs.delete(f"{base}/{rel}")
    for staged_rel, live_rel in man["moves"]:
        staged = f"{base}/{staged_rel}"
        live = f"{base}/{live_rel}"
        if fs.is_dir(staged):
            fs.delete(live)
            fs.mkdirs(live.rsplit("/", 1)[0])
            _checked_rename(fs, staged, live)
    stats_next = f"{base}/stats.next"
    if fs.is_dir(stats_next):
        if man.get("stats_mode") == "replace":
            # whole-dir swap: at-most-once rename, so a replay after a
            # crash mid-step never deletes already-moved part files
            fs.delete(f"{base}/stats")
            _checked_rename(fs, stats_next, f"{base}/stats")
        else:
            fs.mkdirs(f"{base}/stats")
            for name, is_dir, _m, _s in fs.list_status(stats_next):
                if not is_dir and name.startswith("part-"):
                    _checked_rename(fs, f"{stats_next}/{name}", f"{base}/stats/{name}")
            fs.delete(stats_next)
    dfreq_next = f"{base}/dfreq.next"
    if fs.is_dir(dfreq_next):
        fs.delete(f"{base}/dfreq")
        _checked_rename(fs, dfreq_next, f"{base}/dfreq")
    for leftover in ("postings.next", "doclen.next"):
        fs.delete(f"{base}/{leftover}")
    fs.delete(mpath, recursive=False)


def _replay_pending_swap(path: str, spark: SparkSession | None = None) -> None:
    """Self-heal hook: finish a crashed overwrite's swap before reading
    or mutating the index (no-op when no manifest is pending)."""
    fs = _fs_for(path, spark)
    if fs.exists(_swap_manifest_path(path)):
        _apply_swap(path, fs)


def read_index(spark: SparkSession, path: str) -> IndexTables:
    # self-heal: an overwrite_docs that crashed mid-swap left a durable
    # swap manifest; replaying it is idempotent and restores consistency
    _replay_pending_swap(path, spark)
    cfg = _cfg_from_meta(L.Lineage(spark, path).read_meta(), path)
    return IndexTables(
        spark.read.parquet(f"{path}/postings"),
        spark.read.parquet(f"{path}/doclen"),
        spark.read.parquet(f"{path}/dfreq"),
        spark.read.parquet(f"{path}/stats"),
        cfg,
        path,
    )
