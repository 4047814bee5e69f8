"""The serving reader's bounded cache of decoded parquet row groups:
fill-once, the byte budget, the unsorted-row-group mask fallback,
recovery of a stale reader, concurrent use of one reader — and the
compact(scope="auto") fold at the layer cap that keeps layered reads
bounded."""

import threading

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from embedanything_spark.datagen import gen_query_set, gen_transcripts_df
from embedanything_spark.index import query as qmod
from embedanything_spark.index.build import (CheckpointedIndexBuilder,
                                             IndexWriter, committed_lineage)
from embedanything_spark.index.query import IndexReader
from tests.test_bm25_dataframe import assert_rank_identical


def _queries(n: int) -> list[pd.DataFrame]:
    """``n`` single-query frames from consecutive frozen query sets."""
    out, seed = [], 0
    while len(out) < n:
        q = gen_query_set(seed)
        out += [pd.DataFrame({"query_id": [0], "query_text": [t],
                              "k": [int(k)]})
                for t, k in zip(q["query_text"], q["k"])]
        seed += 1
    return out[:n]


@pytest.fixture(scope="module")
def batched_index(spark, tmp_path_factory):
    """Three uncompacted batches: several postings and docmap files."""
    root = tmp_path_factory.mktemp("rgc")
    w = IndexWriter(str(root), block_range=64, num_partitions=2)
    CheckpointedIndexBuilder(w, n_batches=3).run(
        gen_transcripts_df(spark, 60))
    return str(root)


def test_row_group_filled_once(batched_index, monkeypatch):
    """Repeated queries decode each (file, row group, columns) once."""
    fills: list[tuple] = []
    real_fill = IndexReader._fill

    def counting_fill(t, frag, rg_id, cols):
        fills.append((frag.path, rg_id, tuple(cols)))
        return real_fill(t, frag, rg_id, cols)

    monkeypatch.setattr(IndexReader, "_fill", staticmethod(counting_fill))
    reader = IndexReader(None, batched_index)
    qs = _queries(30)
    first = [reader.search_local(q) for q in qs]
    n_first = len(fills)
    assert n_first > 0
    again = [reader.search_local(q) for q in qs]
    assert len(fills) == n_first
    assert len(set(fills)) == len(fills)
    for a, b in zip(first, again):
        pd.testing.assert_frame_equal(a, b)
    stats = reader.cache_stats()
    assert stats["row_group_fills"] == len(fills)
    assert stats["row_group_hits"] > 0
    assert 0 < stats["row_group_bytes"] <= stats["row_group_max_bytes"]


def test_tiny_budget_answers_unchanged(batched_index, monkeypatch):
    """Under a budget that holds about one row group (evicting on every
    query) or none at all, answers are unchanged and the resident
    bytes never exceed the budget."""
    qs = _queries(40)
    ref_reader = IndexReader(None, batched_index)
    want = [ref_reader.search_local(q) for q in qs]
    biggest = max(rg.nbytes for rg in ref_reader._row_groups.values())
    for budget in (biggest, 1):
        monkeypatch.setattr(qmod, "_MAX_CACHED_ROW_GROUP_BYTES", budget)
        reader = IndexReader(None, batched_index)
        for q, w in zip(qs, want):
            pd.testing.assert_frame_equal(reader.search_local(q), w)
            stats = reader.cache_stats()
            assert stats["row_group_bytes"] <= budget
            assert stats["row_group_max_bytes"] == budget
        assert reader.cache_stats()["row_group_fills"] > \
            ref_reader.cache_stats()["row_group_fills"]


def test_unsorted_build_mask_fallback(spark, tmp_path, transcripts_df,
                                      queries_pdf, golden_topk):
    """An uncompacted build whose block files are NOT term-sorted (rows
    shuffled after the write, as another writer might leave them)
    answers rank-identically to the oracle through the exact is_in
    mask, pruned and unpruned."""
    root = tmp_path / "unsorted"
    w = IndexWriter(str(root), block_range=256, num_partitions=2)
    CheckpointedIndexBuilder(w, n_batches=2).run(transcripts_df)
    rng = np.random.default_rng(7)
    files = sorted(root.glob("data/*/kind=block/*.parquet"))
    assert files
    for f in files:
        tbl = pq.read_table(f)
        pq.write_table(tbl.take(rng.permutation(tbl.num_rows)), f)
    reader = IndexReader(None, str(root))
    got = reader.search_local(queries_pdf)
    assert_rank_identical(got, golden_topk)
    pd.testing.assert_frame_equal(
        got, reader.search_local(queries_pdf, prune=False))
    block_groups = [rg for (path, _, _), rg in reader._row_groups.items()
                    if "kind=block" in path]
    assert block_groups
    assert all(rg.sorted_keys is None for rg in block_groups)
    # the dictionary and docmap stay sorted: binary-search slices
    assert any(rg.sorted_keys is not None
               for (path, _, _), rg in reader._row_groups.items()
               if "kind=block" not in path)


def test_stale_reader_recovers_after_two_compactions(spark, tmp_path):
    """A reader opened before two compact() cycles (with appends) has
    its original batch files expired under it; its next query takes
    the OSError retry, drops listing and cache, and answers exactly
    like a new reader."""
    t = gen_transcripts_df(spark, 40)
    root = tmp_path / "stale"
    w = IndexWriter(str(root), block_range=64, num_partitions=2)
    CheckpointedIndexBuilder(w, n_batches=2).run(t)
    q = pd.DataFrame({"query_id": [0, 1],
                      "query_text": ["term00000", "term00003 term00011"],
                      "k": [5, 7]})
    reader = IndexReader(None, str(root))
    base = reader.search_local(q)
    assert reader.cache_stats()["row_group_bytes"] > 0
    first = {ln["batch_id"] for ln in committed_lineage(root)}

    off = sum(ln["n_docs"] for ln in committed_lineage(root))
    for i, seed in enumerate((99, 7)):
        d = gen_transcripts_df(spark, 5, seed=seed)
        nd = d.count()
        w.build(d, batch_id=f"d{i}", doc_id_offset=off)
        w.compact(spark)
        off += nd
    assert not any((root / "data" / f"batch-{b}").exists() for b in first)

    fresh = IndexReader(None, str(root))
    expect = fresh.search_local(q)
    got = reader.search_local(q)
    pd.testing.assert_frame_equal(got, expect)
    assert not got.equals(base)
    assert reader._generation == 1
    assert reader.meta["n_docs"] == fresh.meta["n_docs"] == off
    live = {str(p) for p in root.glob("data/*/kind=*/*.parquet")} | \
        {str(p) for p in root.glob("dictionary/*.parquet")}
    assert reader._row_groups
    assert {path for path, _, _ in reader._row_groups} <= live


def test_threads_share_one_reader(batched_index, monkeypatch):
    """8 threads share one IndexReader for 200 queries, with a budget
    small enough that they evict each other's row groups and a short
    switch interval: every answer is frame-equal to the same query
    answered serially, and the resident-byte counter still equals the
    bytes actually resident (a lost update would break it)."""
    import sys

    qs = _queries(200)
    serial = IndexReader(None, batched_index)
    want = [serial.search_local(q) for q in qs]
    biggest = max(rg.nbytes for rg in serial._row_groups.values())
    monkeypatch.setattr(qmod, "_MAX_CACHED_ROW_GROUP_BYTES", 2 * biggest)
    shared = IndexReader(None, batched_index)
    got: list = [None] * len(qs)
    errors: list = []
    start = threading.Barrier(8)

    def work(i0: int) -> None:
        try:
            start.wait()
            for i in range(i0, len(qs), 8):
                got[i] = shared.search_local(qs[i])
        except Exception as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    for g, w in zip(got, want):
        pd.testing.assert_frame_equal(g, w)
    stats = shared.cache_stats()
    assert stats["row_group_bytes"] == sum(
        rg.nbytes for rg in shared._row_groups.values())
    assert stats["row_group_bytes"] <= 2 * biggest


def test_compact_auto_folds_at_layer_cap(spark, tmp_path, transcripts_pdf,
                                         queries_pdf, golden_topk):
    """With _MAX_COMPACT_LAYERS tiered layers and no delta,
    compact(scope="auto") resolves to "merge" and folds them into one
    layer (it used to report a noop forever); answers stay
    rank-identical to the oracle before and after the fold."""
    from embedanything_spark.index import build as b

    assert b._MAX_COMPACT_LAYERS == 4
    convs = sorted(transcripts_pdf["conv_id"].unique())
    cuts = [convs[:-30], convs[-30:-20], convs[-20:-10], convs[-10:]]

    def df_of(ids):
        pdf = transcripts_pdf[transcripts_pdf["conv_id"].isin(ids)]
        sdf = spark.createDataFrame(pdf)
        return sdf.withColumn("turn_idx", sdf.turn_idx.cast("int"))

    tmp = str(tmp_path / "tiers")
    w = IndexWriter(tmp, block_range=256, num_partitions=2)
    w.build(df_of(cuts[0]), batch_id="base")
    w.compact(spark)
    off = committed_lineage(tmp)[-1]["n_docs"]
    for i, ids in enumerate(cuts[1:]):
        w.build(df_of(ids), batch_id=f"d{i}", doc_id_offset=off)
        assert w.compact(spark, scope="auto")["scope"] == "delta"
        off += int(transcripts_pdf["conv_id"].isin(ids).sum())
    assert len(committed_lineage(tmp)) == 4
    assert_rank_identical(
        IndexReader(None, tmp).search_local(queries_pdf), golden_topk)

    lin = w.compact(spark, scope="auto")
    assert "noop" not in lin
    assert lin["scope"] == "merge"
    assert len(committed_lineage(tmp)) == 1
    assert_rank_identical(
        IndexReader(None, tmp).search_local(queries_pdf), golden_topk)
