"""Delta + varint posting-list codec (numpy-vectorized, no per-element
Python loops).

The reference delegates the physical index layout to Lucene (segments,
skip lists, block-max metadata — ``schema.json`` field types; SURVEY.md
§2.C2). Here postings for one (term, doc-range block) row are encoded as
a LEB128 varint stream laid out stream-of-arrays (v4 format):

``[gap_0..gap_{n-1}][tf_0..tf_{n-1}][dl_0..dl_{n-1}]``

- ``gap``: the FIRST value is the doc's offset from the caller-supplied
  per-row base (the block's first possible doc_id, ``block_id *
  block_size`` — so it fits 1 varint byte instead of encoding a full
  absolute id); subsequent values are deltas (doc_ids sorted within a
  block).
- ``tf``: term frequency in the doc.
- ``dl``: stored relative to the caller-supplied per-row base
  (``block_min_dl``, which the postings row already carries for WAND) —
  typically 1 byte instead of 2. Carrying dl inside the posting trades a
  byte or two per posting for eliminating the doclen join at query time —
  at 10^12-doc scale that join is a full shuffle we never pay.

The SoA layout groups same-shaped small integers (hot-term gap streams
are runs of 1s, tf streams runs of 1s), which parquet's zstd pages
compress far better than interleaved triples — fewer bytes through the
write, the scan and the decode, the binding resource in the measured
DRAM-bandwidth-bound regime.

Encode/decode are vectorized over the posting dimension: both touch each
of the ≤10 varint byte positions once (numpy fancy indexing — a stream of
1-byte values costs exactly one masked gather). Both are exercised by
roundtrip property tests (tests/test_codec.py).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def _varint_encode_arr(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array → (byte array, per-value byte sizes)."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = np.ones(vals.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        big = vals >= t
        if not big.any():
            break
        nbytes += big.astype(np.int64)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    if total == vals.size:
        # every value fits one byte: the stream IS the values (high bit 0)
        return vals.astype(np.uint8), nbytes
    starts = ends - nbytes
    out = np.zeros(total, dtype=np.uint8)
    # byte 0 exists for every value — write it unmasked (a full-array
    # boolean gather here cost ~2x the whole encode)
    b0 = vals.astype(np.uint8) & np.uint8(0x7F)
    b0[nbytes > 1] |= 0x80
    out[starts] = b0
    for k in range(1, int(nbytes.max())):
        mask = nbytes > k
        v = vals[mask] >> np.uint64(7 * k)
        byte = (v & np.uint64(0x7F)).astype(np.uint8)
        byte[nbytes[mask] - 1 > k] |= 0x80
        out[starts[mask] + k] = byte
    return out, nbytes


def varint_encode(vals: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array into one byte stream."""
    out, _ = _varint_encode_arr(np.asarray(vals, dtype=np.uint64))
    return out.tobytes()


def _varint_decode_arr(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode a uint8 array of LEB128 bytes → (values, end-byte indices).

    Mirrors the encoder's shape: one vectorized pass per byte POSITION
    (≤10) gathering ``byte k of every ≥(k+1)-byte value`` at once, instead
    of a scatter-add over every byte (the uint64 ``np.add.at`` path has no
    ufunc fast path — this gather loop measures 7-20x faster, and most
    streams are 1-2 byte values so the loop runs 1-2 iterations)."""
    if b.size == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = (b[starts] & np.uint8(0x7F)).astype(np.uint64)
    for k in range(1, int(lengths.max()) if n else 0):
        mask = lengths > k
        vals[mask] |= (b[starts[mask] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * k
        )
    return vals, ends


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 byte stream back to a uint64 array."""
    vals, _ = _varint_decode_arr(np.frombuffer(buf, dtype=np.uint8))
    return vals


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    base_doc: int = 0,
    base_dl: int = 0,
) -> bytes:
    """Encode sorted (doc_id, tf, dl) posting arrays into one SoA varint
    blob; values are stored relative to (base_doc, base_dl)."""
    n = len(np.asarray(doc_ids))
    return encode_postings_flat(
        doc_ids, tfs, dls,
        np.array([n], dtype=np.int64),
        np.array([base_doc], dtype=np.int64),
        np.array([base_dl], dtype=np.int64),
    )[0]


def decode_postings(
    blob: bytes, base_doc: int = 0, base_dl: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_postings` → (doc_ids, tfs, dls)."""
    doc_ids, tfs, dls, _ = decode_postings_flat(
        [blob],
        np.array([base_doc], dtype=np.int64),
        np.array([base_dl], dtype=np.int64),
    )
    return doc_ids, tfs, dls


# --- batch codec -----------------------------------------------------------
# The Arrow UDFs call these once per BATCH, not once per row: a posting
# block averages a handful of entries, so per-row numpy dispatch dominated
# the build (measured: 19s of a 24.6s postings stage at 60k docs). Here
# all rows of a batch concatenate into one value stream; encode/decode is
# one vectorized pass, and rows are recovered by offset slicing.


def encode_postings_flat(
    all_docs: np.ndarray,
    all_tfs: np.ndarray,
    all_dls: np.ndarray,
    counts: np.ndarray,
    base_docs: np.ndarray | None = None,
    base_dls: np.ndarray | None = None,
) -> list[bytes]:
    """Encode many rows' postings given FLAT value arrays + per-row
    counts (the natural shape of an Arrow ListArray: child values +
    offsets — zero per-row work until the final byte slicing).

    ``base_docs`` / ``base_dls`` (per ROW): each row's first doc gap is
    stored as ``doc - base_docs[i]`` and every dl as ``dl -
    base_dls[i]`` — callers pass the block's doc-range start and
    block_min_dl so both fit in 1 varint byte. Omitted bases default to
    0 (absolute encoding). Values must not go negative."""
    n_rows = len(counts)
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return [b""] * n_rows
    all_docs = np.asarray(all_docs, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    gaps = all_docs.copy()
    gaps[1:] -= all_docs[:-1]
    nz = counts > 0
    first = all_docs[starts[nz]]
    if base_docs is not None:
        first = first - np.asarray(base_docs, dtype=np.int64)[nz]
    gaps[starts[nz]] = first
    dls_rel = np.asarray(all_dls, dtype=np.int64)
    if base_dls is not None:
        dls_rel = dls_rel - np.repeat(np.asarray(base_dls, dtype=np.int64), counts)
    # SoA regions per row i: values [3s_i, 3s_i+n_i) gaps,
    # [3s_i+n_i, 3s_i+2n_i) tfs, [3s_i+2n_i, 3s_i+3n_i) dls
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    reg = 3 * np.repeat(starts, counts)
    n_rep = np.repeat(counts, counts)
    vals = np.empty(total * 3, dtype=np.uint64)
    vals[reg + within] = gaps.astype(np.uint64)
    vals[reg + n_rep + within] = np.asarray(all_tfs, dtype=np.uint64)
    vals[reg + 2 * n_rep + within] = dls_rel.astype(np.uint64)
    buf, nbytes = _varint_encode_arr(vals)
    cum = np.zeros(vals.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=cum[1:])
    vstart = starts * 3
    vend = (starts + counts) * 3
    raw = buf.tobytes()
    return [raw[cum[vstart[i]] : cum[vend[i]]] for i in range(n_rows)]


def encode_postings_batch(
    docs_list: list,
    tfs_list: list,
    dls_list: list,
    base_docs: np.ndarray | None = None,
    base_dls: np.ndarray | None = None,
) -> list[bytes]:
    """Vectorized multi-row :func:`encode_postings` → list of blobs."""
    n_rows = len(docs_list)
    counts = np.fromiter((len(x) for x in docs_list), dtype=np.int64, count=n_rows)
    if int(counts.sum()) == 0:
        return [b""] * n_rows
    cat = lambda xs: np.concatenate([np.asarray(x, dtype=np.int64) for x in xs])  # noqa: E731
    return encode_postings_flat(
        cat(docs_list), cat(tfs_list), cat(dls_list), counts, base_docs, base_dls
    )


def decode_postings_flat(
    blobs: list,
    base_docs: np.ndarray | None = None,
    base_dls: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode many blobs → FLAT (doc_ids, tfs, dls, per-blob counts).
    One vectorized pass; the flat shape feeds an Arrow ListArray or an
    exploded RecordBatch without any per-row work. ``base_docs`` /
    ``base_dls`` must match what the rows were encoded with."""
    n_rows = len(blobs)
    raw = [bytes(b) if b is not None else b"" for b in blobs]
    lens = np.fromiter((len(b) for b in raw), dtype=np.int64, count=n_rows)
    buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
    vals, ends = _varint_decode_arr(buf)
    bstarts = np.cumsum(lens) - lens
    first_val = np.searchsorted(ends, bstarts)
    val_counts = np.diff(np.append(first_val, len(ends)))
    pcounts = (val_counts // 3).astype(np.int64)
    total = int(pcounts.sum())
    pstarts = np.cumsum(pcounts) - pcounts
    # SoA extraction: per-blob regions [first_val, first_val + 3n)
    within = np.arange(total, dtype=np.int64) - np.repeat(pstarts, pcounts)
    reg = np.repeat(first_val, pcounts)
    n_rep = np.repeat(pcounts, pcounts)
    gaps = vals[reg + within].astype(np.int64)
    tfs = vals[reg + n_rep + within].astype(np.int32)
    dls = vals[reg + 2 * n_rep + within].astype(np.int64)
    # segmented cumsum: doc ids restart at each blob's (relative) first doc
    cs = np.cumsum(gaps)
    corr = np.zeros(n_rows, dtype=np.int64)
    nz = pcounts > 0
    prev = pstarts[nz] - 1
    corr[nz] = np.where(prev >= 0, cs[np.maximum(prev, 0)], 0)
    corr[nz] = np.where(pstarts[nz] > 0, corr[nz], 0)
    doc_ids = cs - np.repeat(corr, pcounts)
    if base_docs is not None:
        doc_ids = doc_ids + np.repeat(np.asarray(base_docs, dtype=np.int64), pcounts)
    if base_dls is not None:
        dls = dls + np.repeat(np.asarray(base_dls, dtype=np.int64), pcounts)
    return doc_ids, tfs.astype(np.int32), dls.astype(np.int32), pcounts


# --- positional (v5) codec -------------------------------------------------
# Layout per row (one (term, doc-range block) group):
#
#   ``[gap_0..gap_{n-1}][tf_0..tf_{n-1}][dl_0..dl_{n-1}]
#     [posdelta_{0,0}..posdelta_{0,tf_0-1}][posdelta_{1,0}..] ...``
#
# The first three regions are byte-identical to the v4 layout; the
# positions region appends each posting's within-doc token positions
# (ascending), delta-encoded per posting (first absolute, then gaps).
# The stream is self-delimiting ONLY given the row's posting count ``n``
# (total values = 3n + Σtf), which the block row already carries as its
# ``n`` column — decoders take it as input instead of inferring V/3.
# Positions make phrase queries exact (Lucene text fields index
# positions by default — the part of Solr's query surface the v4 codec
# couldn't serve) at the classic ~2-3x postings-size cost, which is why
# they are opt-in per index (IndexConfig.positions).


def encode_postings_pos_flat(
    all_docs: np.ndarray,
    all_tfs: np.ndarray,
    all_dls: np.ndarray,
    pos_values: np.ndarray,
    counts: np.ndarray,
    base_docs: np.ndarray | None = None,
    base_dls: np.ndarray | None = None,
) -> list[bytes]:
    """v5 encode: like :func:`encode_postings_flat` plus a flat
    ``pos_values`` array holding each posting's ``tf`` ascending token
    positions consecutively (the natural Arrow ListArray child shape)."""
    n_rows = len(counts)
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return [b""] * n_rows
    all_docs = np.asarray(all_docs, dtype=np.int64)
    all_tfs = np.asarray(all_tfs, dtype=np.int64)
    pos_values = np.asarray(pos_values, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    # doc gaps (identical to v4)
    gaps = all_docs.copy()
    gaps[1:] -= all_docs[:-1]
    nz = counts > 0
    first = all_docs[starts[nz]]
    if base_docs is not None:
        first = first - np.asarray(base_docs, dtype=np.int64)[nz]
    gaps[starts[nz]] = first
    dls_rel = np.asarray(all_dls, dtype=np.int64)
    if base_dls is not None:
        dls_rel = dls_rel - np.repeat(np.asarray(base_dls, dtype=np.int64), counts)
    # position deltas, first-absolute per POSTING
    n_pos = int(pos_values.size)
    ppos_starts = np.cumsum(all_tfs) - all_tfs  # per-posting start in pos_values
    pdelta = pos_values.copy()
    if n_pos:
        pdelta[1:] -= pos_values[:-1]
        pnz = all_tfs > 0
        pdelta[ppos_starts[pnz]] = pos_values[ppos_starts[pnz]]
    # per-row value regions: r_i = 3*n_i + s_i  (s_i = Σ tf in row i)
    s_row = np.zeros(n_rows, dtype=np.int64)
    if total:
        tf_cum = np.concatenate(([0], np.cumsum(all_tfs)))
        s_row = tf_cum[starts + counts] - tf_cum[starts]
    r = 3 * counts + s_row
    row_val_starts = np.cumsum(r) - r
    vals = np.empty(int(r.sum()), dtype=np.uint64)
    # scatter gaps/tfs/dls (per posting)
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    vstart_rep = np.repeat(row_val_starts, counts)
    n_rep = np.repeat(counts, counts)
    vals[vstart_rep + within] = gaps.astype(np.uint64)
    vals[vstart_rep + n_rep + within] = all_tfs.astype(np.uint64)
    vals[vstart_rep + 2 * n_rep + within] = dls_rel.astype(np.uint64)
    # scatter position deltas (per position value)
    if n_pos:
        row_pos_start = np.cumsum(s_row) - s_row
        row_of_pos = np.repeat(np.arange(n_rows, dtype=np.int64), s_row)
        pos_within_row = np.arange(n_pos, dtype=np.int64) - row_pos_start[row_of_pos]
        vals[
            row_val_starts[row_of_pos] + 3 * counts[row_of_pos] + pos_within_row
        ] = pdelta.astype(np.uint64)
    buf, nbytes = _varint_encode_arr(vals)
    cum = np.zeros(vals.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=cum[1:])
    vend = row_val_starts + r
    raw = buf.tobytes()
    return [raw[cum[row_val_starts[i]] : cum[vend[i]]] for i in range(n_rows)]


def decode_postings_pos_flat(
    blobs: list,
    ns: np.ndarray,
    base_docs: np.ndarray | None = None,
    base_dls: np.ndarray | None = None,
    with_positions: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """Decode v5 blobs → (doc_ids, tfs, dls, counts, pos_flat|None).
    ``ns`` is the per-blob posting count (the block row's ``n`` column —
    required because 3n + Σtf values per blob is not self-describing).
    ``with_positions=False`` skips materializing the positions array
    (scoring paths that only need tf/dl)."""
    n_rows = len(blobs)
    ns = np.asarray(ns, dtype=np.int64)
    raw = [bytes(b) if b is not None else b"" for b in blobs]
    lens = np.fromiter((len(b) for b in raw), dtype=np.int64, count=n_rows)
    buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
    vals, ends = _varint_decode_arr(buf)
    bstarts = np.cumsum(lens) - lens
    first_val = np.searchsorted(ends, bstarts)
    pcounts = np.where(lens > 0, ns, 0).astype(np.int64)
    total = int(pcounts.sum())
    pstarts = np.cumsum(pcounts) - pcounts
    within = np.arange(total, dtype=np.int64) - np.repeat(pstarts, pcounts)
    reg = np.repeat(first_val, pcounts)
    n_rep = np.repeat(pcounts, pcounts)
    gaps = vals[reg + within].astype(np.int64)
    tfs = vals[reg + n_rep + within].astype(np.int64)
    dls = vals[reg + 2 * n_rep + within].astype(np.int64)
    # segmented cumsum per blob (same machinery as v4)
    cs = np.cumsum(gaps)
    corr = np.zeros(n_rows, dtype=np.int64)
    nz = pcounts > 0
    prev = pstarts[nz] - 1
    corr[nz] = np.where(prev >= 0, cs[np.maximum(prev, 0)], 0)
    corr[nz] = np.where(pstarts[nz] > 0, corr[nz], 0)
    doc_ids = cs - np.repeat(corr, pcounts)
    if base_docs is not None:
        doc_ids = doc_ids + np.repeat(np.asarray(base_docs, dtype=np.int64), pcounts)
    if base_dls is not None:
        dls = dls + np.repeat(np.asarray(base_dls, dtype=np.int64), pcounts)
    pos_flat = None
    if with_positions:
        # positions region per blob: [first_val + 3n, first_val + 3n + s)
        s_blob = np.zeros(n_rows, dtype=np.int64)
        if total:
            tf_cum = np.concatenate(([0], np.cumsum(tfs)))
            s_blob = tf_cum[pstarts + pcounts] - tf_cum[pstarts]
        n_pos = int(s_blob.sum())
        if n_pos:
            blob_pos_start = np.cumsum(s_blob) - s_blob
            blob_of_pos = np.repeat(np.arange(n_rows, dtype=np.int64), s_blob)
            pos_within_blob = (
                np.arange(n_pos, dtype=np.int64) - blob_pos_start[blob_of_pos]
            )
            pdeltas = vals[
                first_val[blob_of_pos] + 3 * pcounts[blob_of_pos] + pos_within_blob
            ].astype(np.int64)
            # segmented cumsum per POSTING
            ppos_starts = np.cumsum(tfs) - tfs  # per-posting start into pos_flat
            pcs = np.cumsum(pdeltas)
            pnz = tfs > 0
            pcorr = np.zeros(total, dtype=np.int64)
            pprev = ppos_starts[pnz] - 1
            pcorr[pnz] = np.where(pprev >= 0, pcs[np.maximum(pprev, 0)], 0)
            pcorr[pnz] = np.where(ppos_starts[pnz] > 0, pcorr[pnz], 0)
            pos_flat = pcs - np.repeat(pcorr, tfs)
        else:
            pos_flat = np.empty(0, dtype=np.int64)
    return (
        doc_ids,
        tfs.astype(np.int32),
        dls.astype(np.int32),
        pcounts,
        pos_flat,
    )


def decode_postings_batch(
    blobs: list,
    base_docs: np.ndarray | None = None,
    base_dls: np.ndarray | None = None,
) -> tuple[list[np.ndarray], list[np.ndarray], list[np.ndarray]]:
    """Vectorized multi-row :func:`decode_postings` →
    (doc_id arrays, tf arrays, dl arrays), one entry per input blob."""
    doc_ids, tfs, dls, pcounts = decode_postings_flat(blobs, base_docs, base_dls)
    pstarts = np.cumsum(pcounts) - pcounts
    split_at = pstarts[1:]
    return (
        np.split(doc_ids, split_at),
        np.split(tfs, split_at),
        np.split(dls, split_at),
    )


# --- Arrow block-row reader ------------------------------------------------
# Every query-side Arrow kernel consumes postings as batches of block rows
# ``(tid, block_id, block_min_dl[, n], blob)``. The row format — v4 or v5
# stream, and the bases a blob is stored against (``block_id *
# block_size`` for doc ids, ``block_min_dl`` for dls) — is read here and
# nowhere else.


class BlockRows(NamedTuple):
    """One Arrow batch of block rows, decoded. Per ROW: ``tids``,
    ``block_id``, ``counts`` (postings in the row); per POSTING:
    ``doc_ids``, ``tfs``, ``dls``; ``pos_flat``: every posting's
    positions back to back (v5, only when asked for)."""

    tids: np.ndarray
    block_id: np.ndarray
    doc_ids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray
    counts: np.ndarray
    pos_flat: np.ndarray | None
    block_size: int

    def grid(self) -> tuple[np.ndarray, np.ndarray, int]:
        """Dense (block-group × block_size) slot grid for rows sorted by
        block_id: (slot of every posting, first doc id of every group,
        number of groups). A doc's postings from every term land on the
        same slot, so per-doc totals are one scatter-add."""
        blk = self.block_id
        new_grp = np.concatenate(([True], blk[1:] != blk[:-1]))
        grp_of_row = np.cumsum(new_grp) - 1
        grp_base = blk[new_grp] * self.block_size
        grp_rep = np.repeat(grp_of_row, self.counts)
        slot = grp_rep * self.block_size + (self.doc_ids - grp_base[grp_rep])
        return slot, grp_base, int(grp_base.size)


def read_block_rows(
    batch,
    block_size: int,
    positions: bool = False,
    with_positions: bool = False,
) -> BlockRows:
    """Decode an Arrow batch of block rows. ``positions``: the index is
    v5 (the batch then carries the ``n`` column the v5 stream needs);
    ``with_positions`` also materializes ``pos_flat``."""
    cols = dict(zip(batch.schema.names, batch.columns))

    def ints(name: str) -> np.ndarray:
        return cols[name].to_numpy(zero_copy_only=False).astype(np.int64)

    blobs = cols["blob"].to_pylist()
    blk = ints("block_id")
    base_docs = blk * block_size
    base_dls = ints("block_min_dl")
    pos_flat = None
    if positions:
        doc_ids, tfs, dls, counts, pos_flat = decode_postings_pos_flat(
            blobs, ints("n"), base_docs, base_dls, with_positions=with_positions
        )
    else:
        doc_ids, tfs, dls, counts = decode_postings_flat(blobs, base_docs, base_dls)
    return BlockRows(ints("tid"), blk, doc_ids, tfs, dls, counts, pos_flat, block_size)


def complete_blocks(batches):
    """Re-cut a stream of Arrow batches sorted by block_id so that each
    yielded batch holds only WHOLE blocks: a block split across two
    input batches is carried into the next one, so no kernel ever sees a
    doc's postings partially. Never yields an empty batch."""
    import pyarrow as pa

    carry = None
    for bt in batches:
        if carry is not None:
            bt = pa.Table.from_batches([carry, bt]).combine_chunks().to_batches()[0]
            carry = None
        n = len(bt)
        if n == 0:
            continue
        blk = bt.column(bt.schema.get_field_index("block_id")).to_numpy(
            zero_copy_only=False
        )
        # hold back the trailing block: it may continue in the next batch
        last_start = int(np.searchsorted(blk, blk[n - 1], side="left"))
        carry = bt.slice(last_start)
        if last_start > 0:
            yield bt.slice(0, last_start)
    if carry is not None:
        yield carry
