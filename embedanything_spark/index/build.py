"""Distributed inverted-index build (SURVEY.md §7.5-6).

Pipeline — exactly ONE full-data shuffle end-to-end and exactly ONE
pass of the raw text through Python/Arrow, regardless of scale:

  transcripts
    → narrow pre-pass: per-conv turn counts (column-pruned scan of
      conv_id only + a tiny conv-keyed shuffle) → EXACT per-bucket
      start offsets and boundary conv_ids via a distributed prefix
      sum — deterministic, no range-partitioner sampling (which would
      re-scan the full corpus), no full-corpus persist
    → bucket id per row = broadcast searchsorted over boundary
      conv_ids (vectorized Arrow UDF over the conv_id column alone —
      text stays JVM-side)
    → [shuffle] repartition(bucket) + sort (bucket, conv_id, turn_idx)
    → fused mapInPandas pass: dense doc_id assignment from broadcast
      bucket offsets + tokenize + per-doc term counting + partition-
      local posting sort + delta+varint block encode, written in ONE
      job as a kind-partitioned table. Each bucket owns a contiguous
      doc range, so its blocks are globally disjoint segments (the
      Lucene/ES doc-sharded model).
    → dictionary = salted repartitionByRange(term) merge over block
      METADATA only (bytes columns pruned by parquet) — the "segment
      merge into a global term dictionary" of the north rule; the only
      term-keyed shuffle, and it moves ~|vocab|·P tiny rows, not
      postings.

Skew: hot Zipf head terms never concentrate anywhere — their postings
stay spread across all doc-range buckets by construction, and the
dictionary merge shuffles one metadata row per (term, block).
Doc-range-aligned blocks also make block-max pruning exact at query
time: sum of per-term block upper bounds is a valid bound for every
doc in the range.

Doc-id determinism at any parallelism: doc_id = bucket_start + rank
within the bucket's (conv_id, turn_idx) order; bucket boundaries sit
at conv granularity and starts are exact prefix sums, so the
concatenation of buckets IS the global (conv_id, turn_idx) dense rank
no matter how many buckets/cores there are.

Blocks store (max_tf, min_dl) rather than a precomputed impact so
upper bounds remain valid if avgdl drifts under incremental appends:
tf·(k1+1)/(tf + k1(1-b+b·dl/avgdl)) is increasing in tf and
decreasing in dl, hence f(max_tf, min_dl) bounds every posting.
That classic bound is loose, though — it pairs one doc's max tf with
another doc's min dl, inflating head-term bounds ~35% and defeating
pruning on short-doc corpora. Blocks therefore ALSO store an
avgdl-LADDER of exact per-block impact maxima: impact is monotone
increasing in avgdl, so max_i impact(tf_i, dl_i; a) computed at fixed
rungs a ∈ IMPACT_LADDER is a valid per-term bound whenever the true
(finalize-time, or post-append) avgdl ≤ a. The query picks the
smallest rung ≥ the current avgdl — a per-doc-joint (tf, dl) bound,
with no second build pass and no staleness under appends.

The reference analogue: its sparse-embed stage emits per-term weights
per chunk (bert.rs:361-400) and streams batches to an index sink
(lib.rs:836-962); here the "sink" is a compressed, sorted, partitioned
parquet layout plus JSON meta/lineage manifests (Iceberg-shaped; swap
``writeTo(...).append()`` in when an Iceberg catalog is configured).
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from embedanything_spark import B, K1
from embedanything_spark.analyzer import ANALYZER_VERSION
from embedanything_spark.index.codec import varint_encode_offsets
from embedanything_spark.operators.doc_ids import zip_with_index

DEFAULT_BLOCK_RANGE = 65536
DOCS_PER_PARTITION = 10_000  # caps per-worker memory in the fused pass
# compact(scope="auto")'s tiered-merge policy: delta appends get their
# own term-range-laid-out layer until this many compact layers exist,
# then one full merge folds them back (bounds serving read
# amplification at ~layers files per term — the LSM/Lucene tier cap)
_MAX_COMPACT_LAYERS = 4
# avgdl rungs for the per-block impact-bound ladder (see module doc);
# covers turn-level (~tens of tokens) through whole-document corpora
# (embed_directory with large chunk_chars can push avgdl past 1024 —
# without a rung those corpora would silently fall back to the ~35%-
# loose classic (max_tf, min_dl) bound). 8 B/rung/block, so the tail
# rungs are nearly free. Readers guard on ladder length, so indexes
# written with a shorter ladder stay readable (classic bound applies
# beyond their top rung).
IMPACT_LADDER = (8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0, 1024.0,
                 2048.0, 4096.0, 8192.0, 16384.0)

# compact()'s posting-mass boundaries: exact per-term mass up to this
# many distinct terms (driver pandas + broadcast mapping stay small);
# beyond it, mass aggregates to a _MASS_PREFIX_LEN-char term prefix —
# order-preserving (fixed-length truncation), so term-range file
# contiguity survives, with the routing table bounded by the prefix
# universe instead of the vocabulary.
_EXACT_MASS_TERMS = 2_000_000
_MASS_PREFIX_LEN = 4

_PKEY_CACHE: dict[tuple[str, int], list[int]] = {}


def _partition_keys(spark: SparkSession, parts: int) -> list[int]:
    """Exact bucket→partition routing keys. ``repartition(parts, col)``
    hash-partitions on pmod(murmur3(col), parts); hashing the dense
    bucket ids 0..parts-1 directly leaves ~1/e of the tasks empty and
    piles 2-4 buckets onto one straggler task (balls-in-bins), which
    both serializes the fused pass and multiplies its documented
    per-worker memory cap. Instead, find — JVM-side, so the hash is
    exactly Spark's own Murmur3/seed-42 on the same LongType — one
    long key per bucket id whose partition assignment IS that id. The
    exchange then routes every bucket to its own partition: zero
    collisions, zero empty tasks. O(parts) driver memory, one tiny
    local-range job, cached per (app, parts)."""
    ck = (spark.sparkContext.applicationId, parts)
    if ck not in _PKEY_CACHE:
        keys: list = [None] * parts
        base, need = 0, parts
        while need:
            span = max(64 * parts, 4096)
            for r in (spark.range(base, base + span)
                      .select("id",
                              F.pmod(F.hash("id"), F.lit(parts))
                              .alias("p"))
                      .collect()):
                p = int(r["p"])
                if keys[p] is None:
                    keys[p] = int(r["id"])
                    need -= 1
            base += span
        _PKEY_CACHE[ck] = keys
    return _PKEY_CACHE[ck]


def _searchsorted_udf(bounds_bc):
    """Vectorized bucket lookup: bucket k owns convs in
    [bounds[k], bounds[k+1]). Arrow-batched; only the conv_id column
    crosses into Python. Comparisons run on fixed-width numpy unicode
    arrays (C-level UCS4 code-point order == Python str order when
    nothing is truncated) instead of object arrays, whose searchsorted
    does a Python-level richcompare per probe — measured ~6× on the
    full-corpus bucket-assignment pass."""
    @F.pandas_udf("int")
    def bucket_of(conv: pd.Series) -> pd.Series:
        bounds = bounds_bc.value
        cv = conv.to_numpy(dtype=object)
        width = max(max((len(b) for b in bounds), default=1),
                    max((len(c) for c in cv), default=1))
        b = np.searchsorted(np.asarray(bounds, dtype=f"<U{width}"),
                            cv.astype(f"<U{width}"),
                            side="right") - 1
        return pd.Series(b.astype(np.int32))
    return bucket_of

_DOC_COLS = ["doc_id", "conv_id", "turn_idx", "role", "ts", "doclen"]
_BLOCK_COLS = ["term", "range_id", "n", "min_doc", "max_doc", "max_tf",
               "min_dl", "sum_tf", "doc_bytes", "tf_bytes", "dl_bytes",
               "max_impact"]
# kind='part': one per-partition lineage row (north rule: resumable
# with PER-PARTITION lineage + metrics)
_PART_COLS = ["part_id", "part_docs", "part_postings", "part_blocks",
              "part_payload_bytes", "part_buckets", "part_sec"]
_UNION_SCHEMA = (
    "kind string, doc_id long, conv_id string, turn_idx int, "
    "role string, ts timestamp, doclen int, "
    "term string, range_id long, n int, min_doc long, max_doc long, "
    "max_tf int, min_dl int, sum_tf long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
    "max_impact array<double>, "
    "part_id int, part_docs long, part_postings long, "
    "part_blocks long, part_payload_bytes long, part_buckets int, "
    "part_sec double")
_ALL_COLS = ["kind"] + _DOC_COLS + _BLOCK_COLS + _PART_COLS


def _arrow_union_schema(ts_type):
    """pyarrow schema mirroring _UNION_SCHEMA (the fused pass emits
    Arrow batches directly — see _build_partition_factory). ``ts_type``
    comes from the INPUT batch so the session-timezone annotation
    round-trips exactly."""
    import pyarrow as pa
    return pa.schema([
        ("kind", pa.string()),
        ("doc_id", pa.int64()), ("conv_id", pa.string()),
        ("turn_idx", pa.int32()), ("role", pa.string()),
        ("ts", ts_type), ("doclen", pa.int32()),
        ("term", pa.string()), ("range_id", pa.int64()),
        ("n", pa.int32()), ("min_doc", pa.int64()),
        ("max_doc", pa.int64()), ("max_tf", pa.int32()),
        ("min_dl", pa.int32()), ("sum_tf", pa.int64()),
        ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary()),
        ("dl_bytes", pa.binary()),
        ("max_impact", pa.list_(pa.float64())),
        ("part_id", pa.int32()), ("part_docs", pa.int64()),
        ("part_postings", pa.int64()), ("part_blocks", pa.int64()),
        ("part_payload_bytes", pa.int64()),
        ("part_buckets", pa.int32()), ("part_sec", pa.float64()),
    ])


def _arrow_pad(schema, n: int, cols: dict):
    """RecordBatch in the union schema with every absent column null —
    pa.nulls is O(1) per column, unlike the former pandas _pad, which
    copied a 26-column object frame and paid per-column type inference
    in the pandas→Arrow conversion on every yielded batch."""
    import pyarrow as pa
    arrays = []
    for f in schema:
        a = cols.get(f.name)
        if a is None:
            a = pa.nulls(n, f.type)
        elif not isinstance(a, pa.Array):
            a = pa.array(a, type=f.type)
        arrays.append(a)
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _pad(pdf: pd.DataFrame, kind: str) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["kind"] = kind
    for c in _ALL_COLS:
        if c not in pdf.columns:
            pdf[c] = None
    return pdf[_ALL_COLS]


def _binary_np(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) numpy views of a pyarrow BinaryArray: offsets
    rebased to 0, data trimmed to the array's span. An Arrow binary
    column IS the concatenation of its rows (one contiguous data
    buffer + an offsets array), so per-row b''.join is never needed
    (guide §4.2)."""
    offs = np.frombuffer(arr.buffers()[1], np.int32)[
        arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], np.uint8)[offs[0]:offs[-1]]
    return offs - offs[0], data


def _block_schema_arrow():
    import pyarrow as pa
    return pa.schema([
        ("term", pa.string()), ("range_id", pa.int64()),
        ("n", pa.int32()), ("min_doc", pa.int64()),
        ("max_doc", pa.int64()), ("max_tf", pa.int32()),
        ("min_dl", pa.int32()), ("sum_tf", pa.int64()),
        ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary()),
        ("dl_bytes", pa.binary()),
        ("max_impact", pa.list_(pa.float64())),
    ])


def _splice_merge_table(tbl):
    """SPLICE-merge a (term, range_id, min_doc)-sorted single-chunk
    Arrow table of block rows WITHOUT decoding a single posting.

    Fragments of one (term, range_id) group cover disjoint, ascending
    doc intervals (build buckets partition the doc space; batch
    offsets partition it across appends), and every fragment's first
    doc delta is the rebased 0 — one 0x00 byte. The merged block's
    payload is therefore pure byte splicing:

      doc_bytes = frag1 ++ varint(min_doc_2 − max_doc_1) ++ frag2[1:]
                  ++ varint(min_doc_3 − max_doc_2) ++ frag3[1:] ...
      tf_bytes / dl_bytes = plain concatenation (raw varints)

    and the block stats aggregate from fragment metadata (max of
    max_tf, min of min_dl, Σn, Σsum_tf, first min_doc, last max_doc,
    elementwise max of the avgdl-ladder impact maxima — each
    fragment's ladder already bounds its own postings). The bytes are
    IDENTICAL to decode+re-encode output (canonical LEB128, same
    deltas), at O(payload bytes) memcpy instead of O(postings) decode
    + sort + encode — the difference between a 6-minute and a
    sub-minute 20M-turn full compact.

    Returns (record_batch_or_None, leftover_table_or_None): groups
    whose fragments are NOT strictly interval-ordered (foreign/
    overlapping appends) or carry unexpected payload shape are routed
    to the leftover table for the decode-merge fallback."""
    import pyarrow as pa
    n_rows = tbl.num_rows
    if n_rows == 0:
        return None, None
    term = tbl.column("term").chunk(0)
    codes = term.dictionary_encode().indices.to_numpy()
    rid = tbl.column("range_id").chunk(0).to_numpy()
    min_doc = tbl.column("min_doc").chunk(0).to_numpy()
    max_doc = tbl.column("max_doc").chunk(0).to_numpy()
    nrow = tbl.column("n").chunk(0).to_numpy().astype(np.int64)
    max_tf = tbl.column("max_tf").chunk(0).to_numpy()
    min_dl = tbl.column("min_dl").chunk(0).to_numpy()
    sum_tf = tbl.column("sum_tf").chunk(0).to_numpy()
    d_off, d_data = _binary_np(tbl.column("doc_bytes").chunk(0))
    t_off, t_data = _binary_np(tbl.column("tf_bytes").chunk(0))
    l_off, l_data = _binary_np(tbl.column("dl_bytes").chunk(0))
    mi = tbl.column("max_impact").chunk(0)
    ng = np.r_[True, (codes[1:] != codes[:-1]) | (rid[1:] != rid[:-1])]
    gid = np.cumsum(ng) - 1
    nonfirst = ~ng
    prev_max = np.r_[np.int64(0), max_doc[:-1]]
    # a group falls back to decode-merge when any non-first fragment
    # overlaps its predecessor's doc interval, doesn't start with the
    # rebased 0x00 delta, or the ladder shape is irregular
    viol = nonfirst & ((min_doc <= prev_max)
                       | (d_data[d_off[:-1]] != 0))
    if mi.null_count:
        viol |= mi.is_null().to_numpy(zero_copy_only=False)
    lens = mi.value_lengths().to_numpy(zero_copy_only=False)
    lens = np.where(np.isnan(lens.astype(np.float64)), -1,
                    lens).astype(np.int64) if mi.null_count \
        else lens.astype(np.int64)
    L = int(lens[0]) if n_rows else 0
    viol |= lens != L
    gstarts = np.nonzero(ng)[0]
    gbad = np.maximum.reduceat(viol.astype(np.int8), gstarts) > 0
    if gbad.any():
        bad_rows = gbad[gid]
        bad_tbl = tbl.filter(pa.array(bad_rows)).combine_chunks()
        good_tbl = tbl.filter(pa.array(~bad_rows)).combine_chunks()
        out, rest = _splice_merge_table(good_tbl)
        assert rest is None  # good groups cannot re-violate
        return out, bad_tbl
    gends = np.r_[gstarts[1:], n_rows]
    G = len(gstarts)
    # ---- doc stream: drop each non-first fragment's leading 0x00,
    # insert the metadata-derived joint delta (both fully vectorized)
    keep = np.ones(len(d_data), dtype=bool)
    nf_idx = np.nonzero(nonfirst)[0]
    keep[d_off[:-1][nf_idx]] = False
    data2 = d_data[keep]
    deltas = (min_doc[nf_idx] - prev_max[nf_idx]).astype(np.uint64)
    patch_buf, patch_ends = varint_encode_offsets(deltas)
    patch_lens = np.diff(np.r_[np.int64(0), patch_ends])
    kept_csum = np.cumsum(keep)
    pos = kept_csum[d_off[:-1][nf_idx]]  # kept bytes strictly before
    doc_stream = np.insert(data2, np.repeat(pos, patch_lens),
                           patch_buf)
    dsz = (d_off[1:] - d_off[:-1]).astype(np.int64)
    dsz[nf_idx] += patch_lens - 1
    doc_goffs = np.r_[np.int64(0), np.cumsum(
        np.add.reduceat(dsz, gstarts))]
    # ---- tf/dl streams: rows are adjacent in the buffer, so a group
    # IS the byte span [off[gs], off[ge]] — zero processing
    tf_goffs = t_off[np.r_[gstarts, n_rows]]
    dl_goffs = l_off[np.r_[gstarts, n_rows]]
    # ---- ladder: elementwise max across fragments
    flat = mi.flatten().to_numpy(zero_copy_only=False)
    ladder = np.maximum.reduceat(
        flat.reshape(n_rows, L), gstarts) if L else \
        np.empty((G, 0), np.float64)

    def _bin(offs: np.ndarray, data: np.ndarray):
        if len(data) > 2**31 - 8:  # pragma: no cover — int32 guard
            mv = memoryview(data.tobytes())
            return pa.array([bytes(mv[a:b]) for a, b in
                             zip(offs[:-1], offs[1:])],
                            type=pa.binary())
        return pa.Array.from_buffers(
            pa.binary(), G,
            [None, pa.py_buffer(offs.astype(np.int32).tobytes()),
             pa.py_buffer(np.ascontiguousarray(data).tobytes())])

    arrays = [
        term.take(pa.array(gstarts.astype(np.int64))),
        pa.array(rid[gstarts].astype(np.int64)),
        pa.array(np.add.reduceat(nrow, gstarts).astype(np.int32)),
        pa.array(min_doc[gstarts].astype(np.int64)),
        pa.array(max_doc[gends - 1].astype(np.int64)),
        pa.array(np.maximum.reduceat(max_tf, gstarts)
                 .astype(np.int32)),
        pa.array(np.minimum.reduceat(min_dl, gstarts)
                 .astype(np.int32)),
        pa.array(np.add.reduceat(sum_tf.astype(np.int64), gstarts)),
        _bin(doc_goffs, doc_stream),
        _bin(tf_goffs, t_data),
        _bin(dl_goffs, l_data),
        pa.ListArray.from_arrays(
            pa.array((np.arange(G + 1) * L).astype(np.int32)),
            pa.array(ladder.reshape(-1), type=pa.float64())),
    ]
    return pa.RecordBatch.from_arrays(
        arrays, schema=_block_schema_arrow()), None


def _encode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized block encode of a sorted (term, range_id, doc_id)
    frame: group boundaries by change-points, aggregates via reduceat,
    ONE varint encode per column with per-group byte slicing — no
    per-group numpy calls."""
    term = pdf["term"].to_numpy()
    rid = pdf["range_id"].to_numpy(np.int64)
    doc = pdf["doc_id"].to_numpy(np.int64)
    tf = pdf["tf"].to_numpy(np.int64)
    dl = pdf["doclen"].to_numpy(np.int64)
    n = len(pdf)
    new_grp = np.r_[True, (term[1:] != term[:-1]) | (rid[1:] != rid[:-1])]
    starts = np.nonzero(new_grp)[0]
    ends = np.r_[starts[1:], n]  # exclusive
    counts = ends - starts
    min_doc = doc[starts]
    max_doc = doc[ends - 1]
    max_tf = np.maximum.reduceat(tf, starts)
    min_dl = np.minimum.reduceat(dl, starts)
    sum_tf = np.add.reduceat(tf, starts)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[1:] = (doc[1:] - doc[:-1]).astype(np.uint64)
    deltas[starts] = 0  # rebased to the block's min_doc
    # avgdl-ladder impact maxima (module doc): one vectorized impact
    # matrix over all postings, max.reduceat per block along the
    # posting axis — the per-doc-joint (tf, dl) bound the classic
    # (max_tf, min_dl) pair can't express
    tff = tf.astype(np.float64)
    dlf = dl.astype(np.float64)
    # one rung at a time: a (rungs, n) matrix at once costs
    # 12 × 8 B × n — on a Zipf-head merge batch n can reach 10^8
    # postings, so keep the live temp at one (n,) array per rung
    mimp = np.empty((len(IMPACT_LADDER), len(starts)),
                    dtype=np.float64)
    for li, a in enumerate(IMPACT_LADDER):
        imp = (tff * (K1 + 1.0)) / \
            (tff + K1 * ((1.0 - B) + B * dlf / a))
        mimp[li] = np.maximum.reduceat(imp, starts)
    out = {"term": term[starts], "range_id": rid[starts],
           "n": counts.astype(np.int32),
           "min_doc": min_doc, "max_doc": max_doc,
           "max_tf": max_tf.astype(np.int32),
           "min_dl": min_dl.astype(np.int32), "sum_tf": sum_tf,
           "max_impact": [mimp[:, j] for j in range(len(starts))]}
    for col, vals in (("doc_bytes", deltas),
                      ("tf_bytes", tf.astype(np.uint64)),
                      ("dl_bytes", dl.astype(np.uint64))):
        buf, vends = varint_encode_offsets(vals)
        bstart = np.r_[0, vends[:-1]][starts]
        bend = vends[ends - 1]
        mv = memoryview(buf.tobytes())
        out[col] = [bytes(mv[a:b]) for a, b in zip(bstart, bend)]
    return pd.DataFrame(out)


def _build_partition_factory(bucket_starts: list[int], block_range: int):
    """The whole per-partition build in ONE Python/Arrow pass: dense
    doc_id assignment (broadcast per-bucket start offsets + running
    per-bucket counters), frozen-analyzer tokenization, per-doc tf
    counting, then — once the partition is exhausted — partition-local
    posting sort and delta+varint block encode. Yields a union stream:
    kind='doc' rows (docmap + doclen) interleaved with batches,
    kind='block' rows at the end.

    Raw text enters Python exactly once and the exploded postings
    NEVER cross the Arrow boundary (they live and die as numpy arrays
    inside the partition). Each bucket owns a contiguous doc range, so
    its (term, range_id) blocks are globally disjoint segments (the
    Lucene/ES doc-sharded model) and no postings shuffle exists at
    all. The term-keyed shuffle happens only in the dictionary merge
    over block metadata.

    A range_id straddling a bucket boundary yields two block rows
    with the same (term, range_id) — the query engine sums their upper
    bounds (still a valid bound) and decodes both (still exact)."""
    from itertools import chain

    from embedanything_spark.analyzer import tokenize

    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext
        t_start = time.time()
        seen: dict[int, int] = {}  # bucket -> rows consumed so far
        doc_l, dl_l, term_l = [], [], []
        schema = None
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            if schema is None:
                schema = _arrow_union_schema(rb.schema.field("ts").type)
            # rows arrive sorted by (_bucket, conv_id, turn_idx):
            # assign per contiguous bucket run
            bks = rb.column("_bucket").to_numpy().astype(np.int64)
            doc_ids = np.empty(n, dtype=np.int64)
            runs = np.r_[0, np.nonzero(bks[1:] != bks[:-1])[0] + 1, n]
            for ri in range(len(runs) - 1):
                a, b = int(runs[ri]), int(runs[ri + 1])
                bk = int(bks[a])
                c = seen.get(bk, 0)
                doc_ids[a:b] = bucket_starts[bk] + c + np.arange(b - a)
                seen[bk] = c + (b - a)
            # RAW token stream, tf counting deferred to the partition-
            # level sort below: one grouped count over the whole
            # partition replaces a Counter + two small-array
            # constructions per doc (per-doc Python was ~30% of this
            # pass's CPU)
            toks_list = [tokenize(t)
                         for t in rb.column("text").to_pylist()]
            dl_arr = np.fromiter(map(len, toks_list), np.int64, count=n)
            flat = list(chain.from_iterable(toks_list))
            if flat:
                doc_l.append(np.repeat(doc_ids, dl_arr))
                dl_l.append(np.repeat(dl_arr, dl_arr))
                term_l.append(np.array(flat, dtype=object))
            # docmap rows ride out as Arrow directly: conv_id/turn_idx/
            # role/ts are ZERO-COPY slices of the input batch, the
            # other 19 union columns are O(1) pa.nulls
            yield _arrow_pad(schema, n, {
                "kind": pa.array(["doc"]).take(
                    pa.array(np.zeros(n, np.int32))),
                "doc_id": pa.array(doc_ids),
                "conv_id": rb.column("conv_id"),
                "turn_idx": rb.column("turn_idx"),
                "role": rb.column("role"),
                "ts": rb.column("ts"),
                "doclen": pa.array(dl_arr.astype(np.int32)),
            })
        if not doc_l:
            return
        doc = np.concatenate(doc_l)
        dl = np.concatenate(dl_l)
        term = np.concatenate(term_l)
        # term-sorted block stream → parquet min/max row-group pruning.
        # range_id is doc_id // block_range (monotone in doc_id), so
        # sorting by (term code, doc) IS the (term, range_id, doc)
        # order; per-(term, doc) tf = run length in the sorted raw
        # stream — the multiset of (doc, term, tf, doclen) rows is
        # bit-identical to the old per-doc Counter path.
        codes, uniques = pd.factorize(pd.Series(term), sort=True)
        order = np.lexsort((doc, codes))
        codes = codes[order]
        doc_s = doc[order]
        dl_s = dl[order]
        ng = np.r_[True, (codes[1:] != codes[:-1])
                   | (doc_s[1:] != doc_s[:-1])]
        gstarts = np.nonzero(ng)[0]
        tf = np.diff(np.r_[gstarts, len(doc_s)])
        sorted_pdf = pd.DataFrame(
            {"term": np.asarray(uniques, dtype=object)[codes[gstarts]],
             "range_id": doc_s[gstarts] // block_range,
             "doc_id": doc_s[gstarts],
             "tf": tf,
             "doclen": dl_s[gstarts]})
        blocks = _encode_batch(sorted_pdf)
        nb = len(blocks)
        yield _arrow_pad(schema, nb, {
            "kind": pa.array(["block"]).take(
                pa.array(np.zeros(nb, np.int32))),
            "term": pa.array(blocks["term"].to_numpy(object),
                             type=pa.string()),
            "range_id": pa.array(blocks["range_id"].to_numpy(np.int64)),
            "n": pa.array(blocks["n"].to_numpy(np.int32)),
            "min_doc": pa.array(blocks["min_doc"].to_numpy(np.int64)),
            "max_doc": pa.array(blocks["max_doc"].to_numpy(np.int64)),
            "max_tf": pa.array(blocks["max_tf"].to_numpy(np.int32)),
            "min_dl": pa.array(blocks["min_dl"].to_numpy(np.int32)),
            "sum_tf": pa.array(blocks["sum_tf"].to_numpy(np.int64)),
            "doc_bytes": pa.array(blocks["doc_bytes"].tolist(),
                                  type=pa.binary()),
            "tf_bytes": pa.array(blocks["tf_bytes"].tolist(),
                                 type=pa.binary()),
            "dl_bytes": pa.array(blocks["dl_bytes"].tolist(),
                                 type=pa.binary()),
            "max_impact": pa.array(blocks["max_impact"].tolist(),
                                   type=pa.list_(pa.float64())),
        })
        ctx = TaskContext.get()
        payload = int(sum(blocks[c].map(len).sum()
                          for c in ("doc_bytes", "tf_bytes", "dl_bytes")))
        yield _arrow_pad(schema, 1, {
            "kind": pa.array(["part"]),
            "part_id": pa.array(
                [ctx.partitionId() if ctx else -1], pa.int32()),
            "part_docs": pa.array([sum(seen.values())], pa.int64()),
            "part_postings": pa.array([len(gstarts)], pa.int64()),
            "part_blocks": pa.array([nb], pa.int64()),
            "part_payload_bytes": pa.array([payload], pa.int64()),
            "part_buckets": pa.array([len(seen)], pa.int32()),
            "part_sec": pa.array([time.time() - t_start],
                                 pa.float64()),
        })

    return fn


def dict_state(root: str | Path) -> set[str] | None:
    """Batch ids whose block metadata the dictionary has folded in.
    Lives INSIDE the dictionary dir (underscore-prefixed → invisible
    to parquet readers, like _SUCCESS) so the atomic directory swap
    carries data and state together — there is no window where the
    dictionary exists but its fold state is stale. None = no
    dictionary (or a pre-state-format one) — callers full-rebuild."""
    f = Path(root) / "dictionary/_dict_state.json"
    if not f.exists():
        return None
    return set(json.loads(f.read_text())["folded"])


def index_fs(root: str | Path):
    """(pyarrow FileSystem, fs-relative base path) for a plain local
    dir or any pyarrow-supported URI (file://, s3://, hdfs://, ...).
    This keeps the READ side of the index Hadoop-FS-agnostic: the
    serving tier and driver-side dictionary lookups list/open files
    through pyarrow.fs instead of POSIX pathlib, so a remote index
    root works wherever pyarrow has a filesystem for the scheme. (The
    WRITE side's commit protocol relies on atomic rename — on object
    stores use the documented Iceberg-catalog swap instead.)"""
    from pyarrow import fs as pafs
    s = str(root)
    if "://" in s:
        return pafs.FileSystem.from_uri(s)
    return pafs.LocalFileSystem(), s


def join_path(root: str | Path, *parts: str) -> str:
    """Path join that preserves a URI scheme (Path() would collapse
    the ``//`` in ``s3://``)."""
    s = str(root)
    if "://" in s:
        return s.rstrip("/") + "/" + "/".join(parts)
    return str(Path(s).joinpath(*parts))


def read_index_text(root: str | Path, relpath: str) -> str | None:
    """Read a small manifest file from the index root via pyarrow.fs
    (scheme-aware); None if absent. Local roots take the plain-POSIX
    fast path."""
    s = str(root)
    if "://" not in s:
        p = Path(s) / relpath
        return p.read_text() if p.exists() else None
    from pyarrow import fs as pafs
    fsys, base = index_fs(s)
    path = base.rstrip("/") + "/" + relpath
    if fsys.get_file_info(path).type == pafs.FileType.NotFound:
        return None
    with fsys.open_input_stream(path) as f:
        return f.read().decode()


def committed_lineage(root: str | Path) -> list[dict]:
    """Committed batches, in commit order (the snapshot manifest).
    Scheme-aware: works against any pyarrow.fs-reachable root."""
    text = read_index_text(root, "_meta/lineage.jsonl")
    if text is None:
        return []
    return [json.loads(line) for line in text.splitlines() if line]


def partition_lineage(spark: SparkSession, root: str | Path) -> DataFrame:
    """PER-PARTITION lineage metrics of all committed batches (north
    rule): one row per fused-pass partition with docs/postings/blocks/
    payload-bytes/bucket counts and wall seconds. Written by the build
    itself (kind='part' rows) — reading them costs nothing at build
    time."""
    return (spark.read.parquet(*table_paths(root, "partitions"))
            .select(*_PART_COLS))


_TABLE_KIND = {"docmap": "doc", "postings": "block",
               "partitions": "part"}


def table_paths(root: str | Path, table: str,
                asof: str | None = None) -> list[str]:
    """Parquet dirs of COMMITTED batches only — a reader never sees a
    half-written batch (snapshot-read semantics; with an Iceberg catalog
    this is the table's current snapshot). Both logical tables live in
    one kind-partitioned batch dir (written in a single job).

    ``asof`` = a committed batch_id: restrict to batches up to and
    including it, in commit order — the manifest's TIME-TRAVEL read
    (Iceberg snapshot-as-of semantics on the lineage log)."""
    kind = _TABLE_KIND[table]
    lineage = committed_lineage(root)
    if asof is not None:
        ids = [ln["batch_id"] for ln in lineage]
        if asof not in ids:
            raise ValueError(
                f"unknown snapshot {asof!r}: committed batches = {ids}")
        lineage = lineage[:ids.index(asof) + 1]
    return [join_path(root, "data", f"batch-{ln['batch_id']}",
                      f"kind={kind}")
            for ln in lineage]


class IndexWriter:
    """Builds the index tables + meta/lineage manifests under a root dir.

    Layout (all parquet unless noted):
      root/data/batch-*/kind=doc/    docmap: doc_id, conv_id, turn_idx,
                                     role, ts, doclen (doc_stats is a
                                     column-pruned read of this table)
      root/data/batch-*/kind=block/  posting blocks (term-clustered
                                     files → parquet row-group pruning
                                     on term)
      root/dictionary/         term, df, cf   (global, rebuilt at finalize)
      root/_meta/meta.json, lineage.jsonl, plan.json

    Commit protocol (Iceberg-snapshot-shaped, SURVEY.md §4 item 6):
    a batch's kind-partitioned dir is written first (one job); the
    lineage line is appended ONLY after the write succeeds — that
    append is the atomic commit point. Readers resolve paths through
    the lineage manifest, so a crash mid-batch leaves only invisible
    orphan dirs, which resume() deletes before re-running the batch.
    """

    def __init__(self, root: str, block_range: int = DEFAULT_BLOCK_RANGE,
                 num_partitions: int | None = None):
        self.root = Path(root)
        self.block_range = block_range
        self.num_partitions = num_partitions

    def _parts(self, spark: SparkSession) -> int:
        return self.num_partitions or spark.sparkContext.defaultParallelism

    def _bucket_plan(
            self, transcripts: DataFrame, doc_id_offset: int
    ) -> tuple[list[str], list[int], int]:
        """Narrow pre-pass: per-conv turn counts (column-pruned scan of
        conv_id + a tiny hash shuffle — NO range-partitioner sampling,
        NO window job) → bucket boundary conv_ids + EXACT per-bucket
        start offsets, in two tiny actions:

        1. per-partition granule summaries (each partition sorts its
           convs and emits one (first_conv, turns) row per ~granule):
           merged on the driver these give APPROXIMATE cumulative turn
           positions — good enough to PICK boundary convs, since
           boundary placement only affects load balance, never
           correctness;
        2. exact offsets for the chosen boundaries: bucket each conv
           (broadcast searchsorted) and sum turns per bucket — the
           prefix sums of those sums are exact bucket start doc_ids.

        Bucket count scales with DATA (~DOCS_PER_PARTITION turns each —
        the fused pass accumulates a bucket's postings in worker
        memory), floored at the core count for parallelism. Driver
        memory is O(granules + buckets), never O(convs)."""
        spark = transcripts.sparkSession
        base = self._parts(spark)
        convs = (transcripts.groupBy("conv_id")
                 .agg(F.count("*").alias("n_turns"))
                 .persist())  # tiny: one row per conv

        def summarize(batches):
            chunks = [b for b in batches if len(b)]
            if not chunks:
                return
            pdf = (pd.concat(chunks, ignore_index=True)
                   .sort_values("conv_id"))
            n = len(pdf)
            step = max(1, n // 4096)
            starts_ix = np.arange(0, n, step)
            csum = np.r_[0, np.cumsum(pdf["n_turns"].to_numpy(np.int64))]
            yield pd.DataFrame({
                "first_conv": pdf["conv_id"].to_numpy()[starts_ix],
                "turns": csum[np.minimum(starts_ix + step, n)]
                - csum[starts_ix]})

        summ = (convs.mapInPandas(
            summarize, schema="first_conv string, turns long")
            .toPandas().sort_values("first_conv"))
        if summ.empty:
            convs.unpersist()
            raise ValueError(
                "empty transcripts input: nothing to index (0 convs)")
        total = int(summ["turns"].sum())
        n_buckets = max(base, -(-total // DOCS_PER_PARTITION))
        bsize = max(1, -(-total // n_buckets))
        cum = np.r_[0, np.cumsum(summ["turns"].to_numpy(np.int64))[:-1]]
        bounds: list[str] = []
        kprev = -1
        for conv, c in zip(summ["first_conv"], cum):
            k = int(c // bsize)
            if k > kprev:
                bounds.append(str(conv))
                kprev = k
        bl = spark.sparkContext.broadcast(bounds)
        sums = (convs.groupBy(_searchsorted_udf(bl)(F.col("conv_id"))
                              .alias("bkt"))
                .agg(F.sum("n_turns").alias("t"))
                .orderBy("bkt").collect())
        convs.unpersist()
        starts, acc = [], doc_id_offset
        for r in sums:  # every bound IS a conv → every bucket non-empty
            starts.append(acc)
            acc += int(r["t"])
        return bounds, starts, acc - doc_id_offset

    def clean(self):
        import shutil
        if self.root.exists():
            shutil.rmtree(self.root)

    def build(self, transcripts: DataFrame, batch_id: str = "full",
              doc_id_offset: int = 0, finalize: bool = True) -> dict:
        """Build the index (or one committed batch of it)."""
        if batch_id.startswith("compact-"):
            # reserved: compact() classifies lineage entries as already-
            # laid-out compacted layers by this prefix; a raw batch
            # committed under it would be skipped by rewrites and could
            # trigger the noop short-circuit on a fragmented index
            raise ValueError(
                "batch_id prefix 'compact-' is reserved for "
                "IndexWriter.compact() output")
        spark = transcripts.sparkSession
        t0 = time.time()
        bounds, starts, n_batch_docs = self._bucket_plan(
            transcripts, doc_id_offset)
        parts = len(bounds)
        bbc = spark.sparkContext.broadcast(bounds)

        # THE one corpus shuffle: hash exchange routed one-bucket-per-
        # partition via _partition_keys (no range-partitioner sampling
        # pass, no corpus persist, no balls-in-bins stragglers); the
        # Arrow UDF sees only the conv_id column — text stays JVM-side
        # until the fused pass
        karr = F.array(*[F.lit(k) for k in
                         _partition_keys(spark, parts)]) \
            .cast("array<bigint>")
        parent = (transcripts
                  .select("conv_id", "turn_idx", "role", "ts", "text")
                  .withColumn("_bucket",
                              _searchsorted_udf(bbc)(F.col("conv_id")))
                  .withColumn("_pkey", F.get(karr, F.col("_bucket")))
                  .repartition(parts, "_pkey")
                  .sortWithinPartitions("_bucket", "conv_id", "turn_idx")
                  .drop("_pkey"))

        # ONE Python pass over raw text → union stream of docmap rows
        # and encoded posting-block rows (postings never cross Arrow),
        # written in ONE job into a kind-partitioned batch dir: no
        # intermediate persist of the stream, no second pass. docmap
        # carries doclen too (doc_stats is a column-pruned read of the
        # same table); each kind's unused columns are all-null and
        # vanish under parquet RLE.
        union = parent.mapInArrow(
            _build_partition_factory(starts, self.block_range),
            schema=_UNION_SCHEMA)
        sub = f"batch-{batch_id}"
        # 8 MB row groups (vs the 128 MB default): postings files are
        # term-sorted, so row-group min/max stats are the pruning
        # granularity for every term-pushed read — the serving path's
        # pyarrow scan and the distributed In(term, …) scan both
        # otherwise decode a whole 128 MB group (binary posting
        # columns included) to extract one term's blocks. Measured:
        # serving p50 0.46 s → ~0.1 s at sf0.1. Metadata cost at
        # 10^12 scale stays sane (~16k groups per 128 GB of postings).
        (union.write.mode("overwrite").partitionBy("kind")
              .option("parquet.block.size", str(8 * 1024 * 1024))
              .parquet(str(self.root / "data" / sub)))
        self._ensure_kind_dirs(spark, sub)

        # n_docs is already exact from the plan's per-bucket sums —
        # no footer-count job needed
        elapsed = time.time() - t0
        lineage = {
            "batch_id": batch_id,
            "doc_id_offset": doc_id_offset,
            "n_docs": int(n_batch_docs),
            "wall_sec": round(elapsed, 3),
            "turns_per_sec": round(n_batch_docs / max(elapsed, 1e-9), 1),
            "num_partitions": parts,
            "snapshot_id": uuid.uuid4().hex,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                          time.gmtime()),
        }
        meta_dir = self.root / "_meta"
        meta_dir.mkdir(parents=True, exist_ok=True)
        with (meta_dir / "lineage.jsonl").open("a") as f:
            f.write(json.dumps(lineage) + "\n")  # ← atomic commit point
        if finalize:
            self.finalize(spark)
        return lineage

    def _ensure_kind_dirs(self, spark: SparkSession, sub: str) -> None:
        """Dynamic ``partitionBy("kind")`` (and an all-empty merge
        job) only materializes kinds that HAVE rows — a zero-postings
        batch (e.g. a streaming micro-batch of all-empty turns) would
        otherwise commit with ``kind=block`` absent or _SUCCESS-only,
        and every reader resolving this batch through the lineage
        would fail on the missing path. Backfill any file-less kind
        with one empty schema-complete parquet file so committed
        batches are always structurally uniform."""
        batch_dir = self.root / "data" / sub
        empty = None
        for kind in _TABLE_KIND.values():
            kdir = batch_dir / f"kind={kind}"
            if not any(kdir.glob("*.parquet")):
                if empty is None:
                    empty = spark.createDataFrame(
                        [], _UNION_SCHEMA).drop("kind")
                empty.write.mode("overwrite").parquet(str(kdir))

    def compact(self, spark: SparkSession, scope: str = "merge") -> dict:
        """Merge committed batch segments into compacted batch(es)
        — the Lucene/ES segment-merge analogue for incremental and
        streaming builds (many small committed batches accumulate
        duplicate (term, range_id) block rows; queries stay exact but
        decode more blocks than needed). Blocks sharing
        (term, range_id) are decoded, merged in doc order and
        re-encoded via ONE term+range-keyed shuffle of encoded
        payloads (maintenance path, not the build hot path; group size
        is bounded by block_range docs, so hot terms cannot skew a
        reducer). docmap rows are concatenated unchanged — doc_ids are
        already globally dense across batch offsets.

        SELECTIVE: the job only rewrites what is actually fragmented.
        A prior compact batch's files already have unique
        (term, range_id) keys and the term-span-contiguous serving
        layout, so

        * a fully-compacted index (single compact batch, no appends)
          short-circuits to a metadata NO-OP — zero data reads, the
          existing lineage is returned with ``noop: True``;
        * with appended delta batches, a compact file is REWRITTEN
          only when a delta batch carries one of its (term, range_id)
          keys (one column-pruned key scan + a semi-join against the
          delta's distinct keys decides); every other compact file
          passes through by hardlink into the new batch dir (copy
          fallback for cross-device roots; on an object store this
          pass-through is an Iceberg-manifest file reference instead).
          Delta-batch files are always rewritten — that is what gives
          them the serving layout.

        The dictionary is CARRIED, not rebuilt: compaction preserves
        df/cf exactly, so finalize only swaps the fold-state to the
        new batch id (``rename_state``).

        ``scope`` picks the maintenance tier (the Lucene tiered-merge
        analogue):

        * ``"merge"`` (default) — one global layer: everything above
          merges into a single compact batch. Appends whose Zipf-head
          terms hit each term-span file's TAIL doc range dirty most
          files, so a merge after a small append can still rewrite
          O(index).
        * ``"delta"`` — TIERED: only the delta batches are merged and
          term-range-laid-out into a NEW compact layer; existing
          compact layers stay in lineage untouched (zero reads, zero
          links). The reader already merges duplicate
          (term, range_id) rows across batches, so layered results
          are exact; each layer's files stay term-span-contiguous, so
          a lookup touches ≤ layers extra files. Nightly maintenance
          cost becomes O(delta), independent of index size. Bonus:
          lineage keeps one entry per cycle, so ``asof`` time travel
          retains per-cycle granularity (a full merge collapses the
          history to one snapshot).
        * ``"auto"`` — ``"delta"`` while the index has fewer than
          ``_MAX_COMPACT_LAYERS`` compact layers, then one ``"merge"``
          folds the tiers back into a single layer (bounding serving
          read amplification), exactly like a tiered LSM policy.

        Atomicity: the compacted batch is written to a fresh dir;
        lineage.jsonl is then REWRITTEN via os.replace (the atomic
        switch); stale batch dirs are removed last. A crash before the
        replace leaves the old lineage fully valid — pass-through
        hardlinks live in the new dir only, and shared inodes keep old
        readers' open files valid through retention expiry."""
        import os
        import shutil
        from urllib.parse import unquote, urlparse

        from embedanything_spark.index.codec import varint_decode

        t0 = time.time()
        old_lineage = committed_lineage(self.root)
        if not old_lineage:
            raise ValueError("nothing to compact: no committed batches")
        compacted = [ln for ln in old_lineage
                     if ln["batch_id"].startswith("compact-")]
        delta = [ln for ln in old_lineage
                 if not ln["batch_id"].startswith("compact-")]
        # resolve "auto" before the noop test: at the layer cap with no
        # delta, auto must still fold the tiers ("merge" below)
        if scope == "auto":
            scope = ("delta" if compacted
                     and len(compacted) < _MAX_COMPACT_LAYERS
                     else "merge")
        if compacted and not delta and (scope != "merge"
                                        or len(compacted) == 1):
            # fully compacted already: keys are unique and the layout
            # final by construction — still honour the retention
            # contract (a compact call expires the PREVIOUS cycle).
            # EXCEPT an explicit scope="merge" over MULTIPLE tiered
            # layers: those can share (term, range_id) keys across
            # layers, so the fold below must run even with no raw
            # delta batches (ADVICE r5: the old unconditional noop
            # reported a layered index as fully compacted forever).
            self._expire_retired()
            return {**old_lineage[-1], "noop": True,
                    "wall_sec": round(time.time() - t0, 3)}
        # with zero existing compact layers the delta IS everything —
        # the scopes coincide, and "merge" bookkeeping is simpler
        tiered = scope == "delta" and bool(compacted)
        replaced = delta if tiered else old_lineage
        sub = f"batch-compact-{uuid.uuid4().hex[:8]}"
        out_dir = self.root / "data" / sub
        n_docs = sum(ln["n_docs"] for ln in replaced)

        def _kind_dir(ln: dict, kind: str) -> Path:
            return (self.root / "data" / f"batch-{ln['batch_id']}"
                    / f"kind={kind}")

        def _local(uri: str) -> str:
            p = urlparse(uri)
            return unquote(p.path) if p.scheme else uri

        def _link_in(files: list[Path], dest: Path) -> int:
            dest.mkdir(parents=True, exist_ok=True)
            for f in files:
                tgt = dest / f.name
                if tgt.exists():  # part-file UUIDs make this ~never
                    tgt = dest / f"pt-{uuid.uuid4().hex[:8]}-{f.name}"
                try:
                    os.link(f, tgt)
                except OSError:
                    shutil.copy2(f, tgt)
            return len(files)

        # ---- selective pre-pass: split compact-batch block files into
        # pass-through vs rewrite. Cost is one column-pruned key scan
        # of the compact batch + the delta's distinct keys (small) —
        # never the payload bytes.
        pass_blocks: list[Path] = []
        rewrite_files: list[str] = []
        delta_block_dirs = [str(_kind_dir(ln, "block")) for ln in delta]
        if compacted and not tiered:
            cdirs = [str(_kind_dir(ln, "block")) for ln in compacted]
            cmeta = (spark.read.parquet(*cdirs)
                     .select("term", "range_id",
                             F.input_file_name().alias("_f")))
            dkeys = (spark.read.parquet(*delta_block_dirs)
                     .select("term", "range_id").distinct()
                     if delta_block_dirs else
                     cmeta.select("term", "range_id").limit(0))
            if len(compacted) > 1:
                # tiered layers can carry the SAME (term, range_id) in
                # different layers; a merge that only chased delta keys
                # would hardlink both files into the one output batch,
                # breaking the "compact batch files have unique keys"
                # invariant the selective pre-pass and the noop
                # short-circuit rely on (and leaving read amplification
                # the merge exists to fold away). Mark keys owned by
                # more than one file dirty too — same column-pruned
                # metadata scan, no payload reads.
                layer_dupes = (cmeta.groupBy("term", "range_id")
                               .agg(F.countDistinct("_f").alias("nf"))
                               .filter(F.col("nf") > 1)
                               .select("term", "range_id"))
                dkeys = dkeys.unionByName(layer_dupes).distinct()
            # match on the (batch-dir name, file basename) pair —
            # unique by construction — NOT on full path strings:
            # input_file_name() URIs are absolute while a relative
            # index root (CLI --index myidx) keeps self.root relative,
            # so a string compare silently classified every file as
            # pass-through and the merge never consolidated.
            def _file_key(p) -> tuple[str, str]:
                p = Path(p)
                return (p.parent.parent.name, p.name)

            dirty = {_file_key(_local(r["_f"])) for r in
                     (cmeta.join(dkeys, ["term", "range_id"],
                                 "left_semi")
                      .select("_f").distinct().collect())}
            for ln in compacted:
                for f in sorted(_kind_dir(ln, "block")
                                .glob("*.parquet")):
                    if _file_key(f) in dirty:
                        rewrite_files.append(str(f))
                    else:
                        pass_blocks.append(f)

        # docmap / partition-metric files: a compact batch's are
        # already consolidated — pass them through; delta batches'
        # (possibly many tiny streaming micro-batch files) are
        # rewritten once, here.
        for table, kind in (("docmap", "doc"), ("partitions", "part")):
            ddirs = [str(_kind_dir(ln, kind)) for ln in delta]
            if ddirs:
                (spark.read.parquet(*ddirs)
                 .write.mode("overwrite")
                 .parquet(str(out_dir / f"kind={kind}")))
            if not tiered:
                for ln in compacted:
                    _link_in(
                        sorted(_kind_dir(ln, kind).glob("*.parquet")),
                        out_dir / f"kind={kind}")

        def merge_stream(batches):
            """One Arrow-native pass over a (term, range_id)-sorted
            partition: every well-formed group is SPLICE-merged
            (``_splice_merge_table`` — pure byte splicing from
            metadata, no posting ever decoded); ill-ordered groups
            drop to the decode+re-encode fallback (``_emit``), byte-
            identical output either way. A carry buffer handles groups
            straddling Arrow batch boundaries. Payload bytes never
            convert to pandas — the former Arrow→pandas→Arrow round
            trip of the whole posting payload was ~40% of compact's
            wall time."""
            import pyarrow as pa
            carry = None
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                tbl = pa.Table.from_batches([rb])
                if carry is not None:
                    tbl = pa.concat_tables([carry, tbl])
                    carry = None
                tbl = tbl.combine_chunks()
                codes = (tbl.column("term").chunk(0)
                         .dictionary_encode().indices.to_numpy())
                rid = tbl.column("range_id").chunk(0).to_numpy()
                ng = np.r_[True, (codes[1:] != codes[:-1])
                           | (rid[1:] != rid[:-1])]
                last_start = int(np.nonzero(ng)[0][-1])
                if last_start == 0:
                    carry = tbl  # whole table is one group — keep
                    continue
                carry = tbl.slice(last_start)
                yield from _emit_table(
                    tbl.slice(0, last_start).combine_chunks())
            if carry is not None and carry.num_rows:
                yield from _emit_table(carry.combine_chunks())

        def _emit_table(tbl):
            """Splice-merge the table; route leftover (ill-ordered)
            groups through the decode fallback in posting-budget
            chunks."""
            out, bad = _splice_merge_table(tbl)
            if out is not None:
                yield out
            if bad is None or bad.num_rows == 0:
                return
            yield from _emit(bad.to_pandas())

        def _emit(pdf: pd.DataFrame):
            """Decode-merge FALLBACK for groups whose fragments are
            not strictly interval-ordered (foreign appends with
            overlapping doc ranges): ONE vectorized varint decode per
            payload column over the concatenated bytes, a segmented
            cumsum to rebase doc deltas, a lexsort, and ONE
            ``_encode_batch`` re-encode — chunked by posting budget so
            Zipf-head rows (~10^4 postings each) cannot materialize
            unbounded temps."""
            import pyarrow as pa
            key = (pdf["term"].astype(str) + "\x00" +
                   pdf["range_id"].astype(str)).to_numpy()
            cnt_all = pdf["n"].to_numpy(np.int64)  # postings per row
            budget = 4_000_000
            cum = cnt_all.cumsum()
            cuts = [0]
            while cuts[-1] < len(pdf):
                nxt = int(np.searchsorted(
                    cum, (cum[cuts[-1] - 1] if cuts[-1] else 0)
                    + budget)) + 1
                nxt = min(nxt, len(pdf))
                while nxt < len(pdf) and key[nxt] == key[nxt - 1]:
                    nxt += 1
                cuts.append(nxt)
            for a, b in zip(cuts[:-1], cuts[1:]):
                yield pa.RecordBatch.from_pandas(
                    _merge_rows(pdf.iloc[a:b]),
                    schema=_block_schema_arrow(),
                    preserve_index=False)

        def _merge_rows(multi: pd.DataFrame) -> pd.DataFrame:
            """Vectorized fragment merge of a (term, range_id,
            min_doc)-sorted slice of duplicated block rows: ONE varint
            decode per payload column over the concatenated bytes, a
            segmented cumsum to rebase doc deltas, and ONE
            ``_encode_batch`` re-encode. No per-posting sort: the
            partition sort orders each group's fragments by min_doc,
            and fragments cover disjoint doc intervals (build buckets
            partition the doc space), so concatenation IS doc order —
            verified by a cheap monotonicity check with a lexsort
            fallback."""
            cnt = multi["n"].to_numpy(np.int64)
            deltas = varint_decode(
                b"".join(multi["doc_bytes"])).astype(np.int64)
            tf = varint_decode(
                b"".join(multi["tf_bytes"])).astype(np.int64)
            dl = varint_decode(
                b"".join(multi["dl_bytes"])).astype(np.int64)
            seg_start = cnt.cumsum() - cnt
            c = deltas.cumsum()
            base = np.repeat(c[seg_start] - deltas[seg_start]
                             - multi["min_doc"].to_numpy(np.int64), cnt)
            doc = c - base
            term = np.repeat(multi["term"].to_numpy(object), cnt)
            rid = np.repeat(multi["range_id"].to_numpy(np.int64), cnt)
            # monotonic within each group already? (group starts may
            # step doc backwards — mask those positions out)
            new_grp = np.r_[True, (term[1:] != term[:-1])
                            | (rid[1:] != rid[:-1])]
            if not (np.diff(doc) > 0)[~new_grp[1:]].all():
                order = np.lexsort(  # pragma: no cover — safety net
                    (doc, rid, term))
                term, rid = term[order], rid[order]
                doc, tf, dl = doc[order], tf[order], dl[order]
            frame = pd.DataFrame({"term": term, "range_id": rid,
                                  "doc_id": doc, "tf": tf,
                                  "doclen": dl})
            return _encode_batch(frame)[_BLOCK_COLS]

        # project to block columns IMMEDIATELY: the batch dirs hold the
        # kind-partitioned union table, and an opaque python map defeats
        # column pruning — without the select the exchange would drag
        # all 26 union columns (22 of them null) through the shuffle
        inputs = delta_block_dirs + rewrite_files
        # a layer merge-fold with zero cross-layer duplicates has
        # nothing to rewrite: run the same pipeline over a schema-only
        # empty frame (the mass/mapping path already handles empty —
        # see the all-empty-corpus note below) and hardlink everything
        blocks = (spark.read.parquet(*inputs).select(*_BLOCK_COLS)
                  if inputs else
                  spark.read.parquet(*[str(_kind_dir(ln, "block"))
                                       for ln in compacted])
                  .select(*_BLOCK_COLS).limit(0))
        # ONE exchange routing each CONTIGUOUS term span to its own
        # partition, so every output file owns a term range and file-/
        # row-group-level min/max statistics prune a serving lookup to
        # the one or two files that hold it. (Hash partitioning
        # scatters terms across every file — each file's term stats
        # then span the whole vocabulary and NOTHING prunes: measured
        # 0.18 s vs 0.01 s per serving lookup.)
        #
        # Boundaries are POSTING-MASS-WEIGHTED, not row-sampled:
        # Spark's repartitionByRange samples ROWS, but merge work is
        # proportional to POSTINGS, and a Zipf head term's ~10^4×
        # heavier rows are a negligible row fraction — row-quantile
        # boundaries land between terms and pile the whole head into
        # whichever partitions its terms sort into (measured at 20M
        # turns: one straggler task with ~50% of the corpus's posting
        # mass ran 8× longer than the rest). One metadata-only agg
        # (term → Σn; byte payloads pruned away) + exact-preimage
        # routing keys gives every partition ≈ equal posting mass;
        # a single mega-term still lands whole, bounding the heaviest
        # partition at that term's own mass share (split heavy terms
        # at range_id boundaries if that ever dominates). Above
        # _EXACT_MASS_TERMS distinct terms, the mass/routing key
        # coarsens to a fixed-length term PREFIX: fixed-length
        # truncation is lexicographic-order-preserving, so files stay
        # term-span-contiguous, while driver rows and the broadcast
        # mapping stay bounded by the prefix universe instead of
        # growing with the vocabulary (a web-scale dictionary would
        # otherwise turn this collect into a driver-OOM cliff).
        parts = self._parts(spark)
        # approx_count_distinct's estimator error (rsd) could misroute
        # a vocabulary just ABOVE the cutoff into the exact branch —
        # the driver-OOM cliff the prefix fallback exists to avoid. So
        # estimate tight (2% rsd) and take the exact route only when
        # the estimate clears the threshold scaled DOWN by ~2.5σ; a
        # true count near the boundary then lands in the (always-
        # correct, merely coarser) prefix branch.
        _rsd = 0.02
        n_terms = blocks.agg(F.approx_count_distinct("term", rsd=_rsd)
                             .alias("c")).collect()[0]["c"]
        rkey = (F.col("term")
                if n_terms <= _EXACT_MASS_TERMS * (1.0 - 2.5 * _rsd)
                else F.substring("term", 1, _MASS_PREFIX_LEN))
        mass = (blocks.groupBy(rkey.alias("rkey"))
                .agg(F.sum("n").alias("m"))
                .orderBy("rkey").toPandas())
        cumw = mass["m"].to_numpy(np.float64).cumsum()
        total_m = float(cumw[-1]) if len(cumw) else 1.0
        # size the rewrite fan-out by REWRITTEN mass (selective
        # compacts often rewrite a small delta — 32 near-empty output
        # files per cycle would accrete as layers of fragments), but
        # never below ~4M postings/task (the merge's memory budget and
        # its unit of parallelism) and never above the core budget
        parts = int(max(1, min(parts, -(-total_m // 4_000_000))))
        pid = np.minimum((cumw - mass["m"].to_numpy(np.float64) / 2)
                         / total_m * parts,
                         parts - 1).astype(np.int64)
        pkeys = np.array(_partition_keys(spark, parts), dtype=np.int64)
        # explicit schema: an all-empty-text corpus yields an EMPTY
        # mass frame, and schema inference on an empty pandas frame
        # raises — the compact must still commit (empty index is a
        # valid state a retention cycle can pass through)
        mapping = spark.createDataFrame(
            pd.DataFrame({"rkey": mass["rkey"].astype(object),
                          "pkey": pkeys[pid]}),
            schema="rkey string, pkey long")
        (blocks.withColumn("rkey", rkey)
               .join(F.broadcast(mapping), "rkey")
               .repartition(parts, "pkey")
               .sortWithinPartitions("term", "range_id", "min_doc")
               .drop("pkey", "rkey")
               .mapInArrow(merge_stream,
                           schema=blocks.select(*_BLOCK_COLS).schema)
               .write.mode("overwrite")
               .option("parquet.block.size", str(8 * 1024 * 1024))
               .parquet(str(out_dir / "kind=block")))
        _link_in(pass_blocks, out_dir / "kind=block")
        self._ensure_kind_dirs(spark, sub)

        lineage = {
            "batch_id": sub[len("batch-"):],
            "doc_id_offset": (min(ln["doc_id_offset"]
                                  for ln in delta) if tiered else 0),
            "n_docs": int(n_docs),
            "wall_sec": round(time.time() - t0, 3),
            "turns_per_sec": round(n_docs / max(time.time() - t0, 1e-9),
                                   1),
            "num_partitions": self._parts(spark),
            "scope": "delta" if tiered else "merge",
            "compacted_from": [ln["batch_id"] for ln in replaced],
            # tiered: the kept layers' files pass through BY REFERENCE
            # (they stay in lineage, unread); merge: by hardlink
            "passthrough_files": (sum(
                len(list(_kind_dir(ln, "block").glob("*.parquet")))
                for ln in compacted) if tiered else len(pass_blocks)),
            "rewritten_files": len(rewrite_files),
            "kept_layers": len(compacted) if tiered else 0,
            "snapshot_id": uuid.uuid4().hex,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                          time.gmtime()),
        }
        # RETENTION, not deletion: superseded batch dirs are only
        # RETIRED here and physically removed on the NEXT compaction
        # (or an explicit expire_retired()). A long-lived serving
        # reader (server.py holds one IndexReader with memoized
        # pyarrow datasets) opened before this compact keeps reading
        # valid files — the same reason Iceberg keeps superseded files
        # until snapshot expiry. Crash-ordering: (1) expire the
        # PREVIOUS cycle's dirs, (2) record this cycle's dirs as
        # retired, (3) swap lineage — so the superseded dirs are
        # always reachable from retired.json OR lineage (never
        # leaked); _expire_retired's lineage guard makes a crash
        # between (2) and (3) harmless (the listed dirs are still
        # committed, so a later expire skips them).
        self._expire_retired()
        retired = [f"batch-{ln['batch_id']}" for ln in replaced]
        rtmp = self.root / "_meta/retired.json.tmp"
        rtmp.write_text(json.dumps({"dirs": retired}))
        os.replace(rtmp, self.root / "_meta/retired.json")
        kept_lines = ([json.dumps(ln) for ln in compacted]
                      if tiered else [])
        tmp = self.root / "_meta/lineage.jsonl.tmp"
        tmp.write_text("\n".join(kept_lines + [json.dumps(lineage)])
                       + "\n")
        os.replace(tmp, self.root / "_meta/lineage.jsonl")  # ← atomic
        # compaction never changes df/cf — carry the dictionary and
        # swap only its fold-state to the new batch set (a crash
        # before the swap leaves a stale state → finalize's divergence
        # check self-heals with a full rebuild)
        self.finalize(spark, rename_state=(
            {ln["batch_id"] for ln in old_lineage},
            [ln["batch_id"] for ln in compacted] + [lineage["batch_id"]]
            if tiered else [lineage["batch_id"]]))
        return lineage

    def _expire_retired(self) -> None:
        """Physically delete batch dirs retired by a PREVIOUS compact
        (the retention window is one compaction cycle). Dirs still
        referenced by the committed lineage are NEVER deleted — that
        state only arises from a compact that crashed after recording
        retirement but before swapping lineage, and those dirs are
        live."""
        import shutil
        f = self.root / "_meta/retired.json"
        if not f.exists():
            return
        committed = {f"batch-{ln['batch_id']}"
                     for ln in committed_lineage(self.root)}
        kept = []
        for d in json.loads(f.read_text()).get("dirs", []):
            if d in committed:
                kept.append(d)
            else:
                shutil.rmtree(self.root / "data" / d,
                              ignore_errors=True)
        if kept:
            rtmp = self.root / "_meta/retired.json.tmp"
            rtmp.write_text(json.dumps({"dirs": kept}))
            rtmp.replace(self.root / "_meta/retired.json")
        else:
            f.unlink(missing_ok=True)

    def expire_retired(self) -> None:
        """Explicit GC of retired batch dirs (Iceberg
        expire_snapshots analogue) — call once no reader older than
        the last compaction is live."""
        self._expire_retired()

    def _swap_dictionary(self, staging: Path) -> None:
        """Atomic-as-possible directory swap: rename the live dict
        aside, rename staging in, delete the old one last. A crash
        between the renames leaves NO dictionary dir → the next
        finalize takes the full-rebuild path (dict_state None). The
        previous rmtree-then-rename left a window with a half-deleted
        live dictionary; with an Iceberg catalog this whole swap is a
        metadata pointer flip."""
        import shutil
        dict_dir = self.root / "dictionary"
        old = self.root / f"_dict_old-{uuid.uuid4().hex[:8]}"
        if dict_dir.exists():
            dict_dir.rename(old)
            staging.rename(dict_dir)
            shutil.rmtree(old, ignore_errors=True)
        else:
            staging.rename(dict_dir)

    def finalize(self, spark: SparkSession,
                 add_batches: list[str] | None = None,
                 rename_state: tuple[set[str], list[str]] | None = None,
                 ) -> dict:
        """Segment merge → global dictionary + corpus meta. Idempotent
        (including under foreachBatch's at-least-once replay); re-run
        after resume. Reads block METADATA only (parquet column
        pruning skips the byte payloads). groupBy(term) gets map-side
        partial aggregation; range_id already salted the hot terms
        across input partitions, so no reducer sees a whole head term.

        ``add_batches``: INCREMENTAL maintenance — fold only those
        batches' block metadata into the existing dictionary instead of
        re-aggregating the whole corpus (O(new batch), the append path
        streaming ingest uses per micro-batch; a full rebuild at 100 TB
        per micro-batch would be the classic scale trap).

        ``rename_state``: (expected_old_ids, new_ids) — compaction's
        CARRY path. Compaction rewrites file layout but preserves
        df/cf exactly, so when the dictionary's fold state matches the
        pre-compact batch set, only the state file is swapped to the
        new batch id (one small atomic write); the dictionary data is
        untouched and no rebuild job runs.

        Crash safety: the dictionary dir carries its own fold state
        (``_dict_state.json``, swapped in atomically with the data).
        The incremental path runs ONLY when state ∪ add_batches equals
        the committed lineage exactly — a batch committed but never
        folded (crash between commit and fold), or an unknown state
        format, diverges and triggers a self-healing FULL rebuild; a
        replayed batch already in state is skipped, so nothing is ever
        folded twice."""
        import os
        import shutil
        parts = self._parts(spark)
        dict_dir = self.root / "dictionary"
        # sweep staging/old orphans from any previously-crashed swap
        for d in list(self.root.glob("_dict_staging-*")) + \
                list(self.root.glob("_dict_old-*")):
            shutil.rmtree(d, ignore_errors=True)
        lineage_ids = {ln["batch_id"]
                       for ln in committed_lineage(self.root)}
        state = dict_state(self.root)
        carried = (rename_state is not None and state is not None
                   and state == set(rename_state[0])
                   and set(rename_state[1]) == lineage_ids
                   and (self.root / "_meta/meta.json").exists())
        if carried:
            stmp = dict_dir / "_dict_state.json.tmp"
            stmp.write_text(json.dumps(
                {"folded": sorted(rename_state[1])}))
            os.replace(stmp, dict_dir / "_dict_state.json")
        incremental = (not carried and add_batches is not None
                       and state is not None
                       and (self.root / "_meta/meta.json").exists())
        pending: list[str] = []
        if incremental:
            pending = [b for b in add_batches if b not in state]
            if state | set(pending) != lineage_ids:
                incremental = False  # divergence → heal via full rebuild
        if carried or (incremental and not pending):
            pass  # carried dictionary, or an already-folded replay
        else:
            staging = self.root / f"_dict_staging-{uuid.uuid4().hex[:8]}"
            if incremental:
                add_paths = [str(self.root / "data" / f"batch-{b}"
                                 / "kind=block") for b in pending]
                add = (spark.read.parquet(*add_paths)
                       .groupBy("term")
                       .agg(F.sum("n").alias("df"),
                            F.sum("sum_tf").alias("cf")))
                merged = (spark.read.parquet(str(dict_dir))
                          .unionByName(add)
                          .groupBy("term")
                          .agg(F.sum("df").alias("df"),
                               F.sum("cf").alias("cf")))
                folded = sorted(state | set(pending))
            else:
                postings = spark.read.parquet(
                    *table_paths(self.root, "postings"))
                merged = (postings.groupBy("term")
                          .agg(F.sum("n").alias("df"),
                               F.sum("sum_tf").alias("cf")))
                folded = sorted(lineage_ids)
            (merged.repartitionByRange(max(1, parts // 4), "term")
                   .sortWithinPartitions("term")
                   .write.mode("overwrite")
                   .option("parquet.block.size", str(4 * 1024 * 1024))
                   .parquet(str(staging)))
            (staging / "_dict_state.json").write_text(
                json.dumps({"folded": folded}))
            self._swap_dictionary(staging)

        # corpus stats without another docmap scan: n_docs from the
        # lineage manifest (footer-exact per committed batch),
        # total_tokens = Σcf over the (tiny) dictionary just written —
        # Σ tf over all (term, doc) pairs IS Σ doclen
        n_docs = sum(ln["n_docs"] for ln in committed_lineage(self.root))
        tok = spark.read.parquet(str(self.root / "dictionary")).agg(
            F.sum("cf").alias("t")).collect()[0]["t"]
        total_tokens = int(tok or 0)
        meta = {
            "format_version": 1,
            "analyzer_version": ANALYZER_VERSION,
            "k1": K1, "b": B,
            "block_range": self.block_range,
            "n_docs": int(n_docs),
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
            "total_tokens": total_tokens,
            "snapshot_id": uuid.uuid4().hex,
        }
        (self.root / "_meta/meta.json").write_text(
            json.dumps(meta, indent=2))
        return meta


class CheckpointedIndexBuilder:
    """Resumable build: input split into conv_id RANGES so sequential
    per-batch doc_id offsets reproduce the exact global dense rank —
    a resumed build is bit-identical to an uninterrupted one
    (FIXTURES.md §5). The range plan is computed once and frozen in
    plan.json; resume skips committed batches, deletes orphan dirs from
    a crashed batch, and re-finalizes.

    Input layout contract: ``run`` filters the source to each batch's
    conv_id range, so the scan benefits from the input being SORTED or
    PARTITIONED by conv_id (Iceberg sort order / partition transform on
    conv_id) — the range predicates then prune files/row groups and
    each batch reads only its slice. On an unsorted table the filters
    still produce identical output, but every batch rescans the full
    corpus (n_batches passes over the source).
    """

    def __init__(self, writer: IndexWriter, n_batches: int):
        self.w = writer
        self.n_batches = n_batches

    def _plan_path(self) -> Path:
        return self.w.root / "_meta/plan.json"

    def plan(self, transcripts: DataFrame) -> list[str | None]:
        """conv_id boundaries [b1..b_{n-1}] splitting convs evenly."""
        if self._plan_path().exists():
            return json.loads(self._plan_path().read_text())["bounds"]
        convs = zip_with_index(
            transcripts.select("conv_id").distinct(), ["conv_id"],
            id_col="rank", num_partitions=self.w._parts(
                transcripts.sparkSession))
        n = convs.count()
        step = max(1, -(-n // self.n_batches))
        bounds = [r["conv_id"] for r in
                  convs.filter((F.col("rank") % step == 0) &
                               (F.col("rank") > 0))
                  .orderBy("rank").collect()]
        self._plan_path().parent.mkdir(parents=True, exist_ok=True)
        self._plan_path().write_text(json.dumps({"bounds": bounds}))
        return bounds

    def _cleanup_orphans(self):
        committed = {ln["batch_id"] for ln in committed_lineage(self.w.root)}
        import shutil
        tdir = self.w.root / "data"
        if not tdir.exists():
            return
        # RETIRED dirs are not in lineage but are NOT orphans: they
        # are superseded-by-compaction dirs inside their retention
        # window, possibly still being read by a live serving reader.
        retired: set[str] = set()
        rf = self.w.root / "_meta/retired.json"
        if rf.exists():
            retired = set(json.loads(rf.read_text()).get("dirs", []))
        for d in tdir.iterdir():
            if d.name.startswith("batch-") and \
                    d.name[len("batch-"):] not in committed and \
                    d.name not in retired:
                shutil.rmtree(d)

    def run(self, transcripts: DataFrame,
            stop_after: int | None = None) -> list[dict]:
        """Run (or resume) the build. ``stop_after`` simulates a crash
        after N batch commits (test hook). Returns lineage rows."""
        bounds = self.plan(transcripts)
        self._cleanup_orphans()
        committed = {ln["batch_id"]: ln
                     for ln in committed_lineage(self.w.root)}
        offset = 0
        done = []
        # ceil-division steps can yield fewer than n_batches-1 bounds on
        # small corpora (e.g. 9 convs / 4 batches → 2 bounds); the
        # effective batch count is len(bounds)+1, never more
        n_eff = min(self.n_batches, len(bounds) + 1)
        for i in range(n_eff):
            bid = f"{i:04d}"
            lo = bounds[i - 1] if i > 0 else None
            hi = bounds[i] if i < len(bounds) else None
            if bid in committed:
                offset += committed[bid]["n_docs"]
                done.append(committed[bid])
                continue
            part = transcripts
            if lo is not None:
                part = part.filter(F.col("conv_id") >= lo)
            if hi is not None:
                part = part.filter(F.col("conv_id") < hi)
            ln = self.w.build(part, batch_id=bid, doc_id_offset=offset,
                              finalize=False)
            offset += ln["n_docs"]
            done.append(ln)
            if stop_after is not None and \
                    len([d for d in done if d]) >= stop_after:
                return done  # simulated crash: no finalize
        self.w.finalize(transcripts.sparkSession)
        return done
