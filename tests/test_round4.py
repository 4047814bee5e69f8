"""Round-4 behaviors: compaction retention for live serving readers,
scheme-aware (file://) index roots, the extended impact ladder on
large-avgdl corpora, and per-item decode degradation."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from embedanything_spark.datagen import gen_transcripts_df
from embedanything_spark.index.build import (CheckpointedIndexBuilder,
                                             IndexWriter,
                                             committed_lineage)
from embedanything_spark.index.query import IndexReader


class _Counter:
    """Driver-side stand-in for a Spark accumulator (search_local runs
    the kernel in-process)."""

    def __init__(self):
        self.n = 0

    def add(self, v):
        self.n += v


def _q(text: str, k: int = 5) -> pd.DataFrame:
    return pd.DataFrame({"query_id": [0], "query_text": [text],
                         "k": [k]})


def test_compaction_retention_live_reader(spark, tmp_path):
    """A serving reader opened BEFORE compact() keeps answering:
    compact retires superseded batch dirs instead of deleting them
    (one-cycle retention window); a reader that does outlive the
    window re-opens cleanly on its next query instead of erroring."""
    from pathlib import Path

    t = gen_transcripts_df(spark, 40)
    root = tmp_path / "ret"
    w = IndexWriter(str(root), block_range=64, num_partitions=2)
    CheckpointedIndexBuilder(w, n_batches=2).run(t)
    old_dirs = [root / "data" / f"batch-{ln['batch_id']}"
                for ln in committed_lineage(root)]

    reader = IndexReader(None, str(root))  # serving: no Spark session
    q = _q("term00000")
    base = reader.search_local(q)
    assert len(base) > 0

    w.compact(spark)
    # retention: the superseded dirs are still on disk...
    assert all(d.exists() for d in old_dirs)
    # ...so the live reader's memoized datasets still resolve (the
    # dictionary is swapped by finalize, which the OSError-retry
    # re-opens transparently)
    pd.testing.assert_frame_equal(reader.search_local(q), base)

    compact1 = [root / "data" / f"batch-{ln['batch_id']}"
                for ln in committed_lineage(root)]
    # recompacting an already-compacted index is a metadata NO-OP —
    # but it still honours retention (expires the previous cycle)
    noop = w.compact(spark)
    assert noop.get("noop") is True
    assert not any(d.exists() for d in old_dirs)
    assert all(d.exists() for d in compact1)

    # append a delta, then compact again: SELECTIVE — clean compact
    # files pass through by hardlink, only fragmented ones rewrite
    n1 = sum(ln["n_docs"] for ln in committed_lineage(root))
    extra = gen_transcripts_df(spark, 6, seed=99)
    w.build(extra, batch_id="ret-delta", doc_id_offset=n1)
    lin2 = w.compact(spark)
    assert "noop" not in lin2
    assert lin2["passthrough_files"] + lin2["rewritten_files"] > 0
    # compact1 is retired but retained; the live reader's memoized
    # dictionary was swapped by the delta's finalize, so its next
    # query re-opens (OSError retry) onto the FULL corpus — with
    # refreshed corpus stats, matching a brand-new reader exactly
    assert all(d.exists() for d in compact1)
    expect = IndexReader(None, str(root)).search_local(q)
    pd.testing.assert_frame_equal(reader.search_local(q), expect)

    # explicit GC (expire_snapshots analogue): compact1 goes away;
    # pass-through hardlinks in the live batch keep their inodes
    w.expire_retired()
    assert not any(d.exists() for d in compact1)
    assert not (root / "_meta/retired.json").exists()
    fresh = [root / "data" / f"batch-{ln['batch_id']}"
             for ln in committed_lineage(root)]
    assert all(d.exists() for d in fresh)
    # the stale reader's memoized files are gone now — its next query
    # must re-open against the current lineage (full corpus), not raise
    pd.testing.assert_frame_equal(reader.search_local(q), expect)


def test_file_uri_index_root(spark, tmp_path, queries_pdf):
    """The reader is Hadoop-FS-agnostic on the read side: a
    ``file://`` URI root (pyarrow.fs resolved, same machinery as
    s3://) serves search_local AND distributed search identically to
    the plain-path reader."""
    t = gen_transcripts_df(spark, 40)
    root = tmp_path / "uri"
    IndexWriter(str(root), block_range=64, num_partitions=2).build(t)
    q = queries_pdf.head(6)

    plain = IndexReader(spark, str(root))
    uri = IndexReader(spark, f"file://{root}")
    pd.testing.assert_frame_equal(uri.search_local(q),
                                  plain.search_local(q))
    pd.testing.assert_frame_equal(uri.search(q).toPandas(),
                                  plain.search(q).toPandas())
    # the JVM-side df fallback resolves the same dfs as pyarrow
    some_terms = ["term00000", "term00001", "neverseen"]
    assert uri._term_dfs_spark(some_terms) == uri._term_dfs(some_terms)


def test_impact_ladder_large_avgdl(spark, tmp_path):
    """North-rule pruning on a whole-document-sized corpus: with
    avgdl > 1024 the extended ladder must supply a rung, and the
    ladder bound (not the ~35%-loose classic (max_tf, min_dl) bound)
    must drive WAND pruning — measurably fewer decoded ranges, with
    pruned == unpruned exactness."""
    from embedanything_spark.index import query as qmod
    from embedanything_spark.index.build import IMPACT_LADDER

    # HETEROGENEOUS inflation (30–230× per turn): avgdl lands well
    # past 1024, and tf/dl correlate positively within blocks — the
    # regime where the classic bound's cross-doc (max_tf, min_dl)
    # pairing inflates most while the per-doc-joint ladder stays tight
    t = (gen_transcripts_df(spark, 60)
         .withColumn("rep", (F.lit(30) + F.pmod(
             F.xxhash64("conv_id", "turn_idx"), F.lit(200))).cast("int"))
         .withColumn("text", F.concat_ws(
             " ", F.array_repeat(F.col("text"), F.col("rep"))))
         .drop("rep"))
    root = str(tmp_path / "bigdl")
    IndexWriter(root, block_range=32, num_partitions=2).build(t)
    reader = IndexReader(None, root)
    avgdl = reader.meta["avgdl"]
    assert avgdl > 1024, f"fixture must exceed the old top rung: {avgdl}"
    assert any(a >= avgdl for a in IMPACT_LADDER)

    q = _q("term00000 term00003", k=3)
    unpruned = reader.search_local(q, prune=False)

    ladder_cnt = _Counter()
    with_ladder = reader.search_local(q, prune=True,
                                      decode_acc=ladder_cnt)
    pd.testing.assert_frame_equal(with_ladder, unpruned)

    # simulate the pre-round-4 ladder (tops out at 1024 → no rung →
    # classic bound only). search_local runs in-process, so the
    # module-level patch reaches the kernel.
    old = qmod.IMPACT_LADDER
    qmod.IMPACT_LADDER = tuple(a for a in old if a <= 1024.0)
    try:
        classic_cnt = _Counter()
        with_classic = reader.search_local(q, prune=True,
                                           decode_acc=classic_cnt)
    finally:
        qmod.IMPACT_LADDER = old
    pd.testing.assert_frame_equal(with_classic, unpruned)
    assert ladder_cnt.n < classic_cnt.n, (
        f"ladder bound must prune more: ladder={ladder_cnt.n} "
        f"classic={classic_cnt.n}")


def test_decode_fallback_per_item(spark):
    """A payload the real kernels reject (truncated PNG) degrades to
    the stub PER ITEM — the stage survives, healthy items still real-
    decode, and the fallback accumulator counts the degraded ones."""
    from embedanything_spark import mediacodecs as mc
    from embedanything_spark.operators.multimodal import (
        extract_features, real_image_dims, synth_assets)

    good = synth_assets(spark, 3, real=True)  # ids 0..2: png/wav/y4m
    bad_png = mc.PNG_SIG + b"\x00" * 40  # magic matches, body garbage
    bad = spark.createDataFrame(
        [("/assets/image/bad.png", "image", len(bad_png),
          bytearray(bad_png))],
        schema=good.schema)
    acc = spark.sparkContext.accumulator(0)
    feats = (extract_features(good.unionByName(bad), fallback_acc=acc)
             .toPandas().set_index("path"))
    assert len(feats) == 4  # nothing killed the batch
    assert acc.value == 1  # exactly the corrupted item degraded
    w, h, _v = real_image_dims(0)
    assert (feats.loc["/assets/image/000000.png", "width"],
            feats.loc["/assets/image/000000.png", "height"]) == (w, h)
    stub = feats.loc["/assets/image/bad.png"]
    assert stub["n_frames"] == 1 and len(stub["embedding"]) > 0


def test_pdf_length_sliced_streams():
    """Adversarial PDF streams: compressed bytes containing the
    literal ``endstream`` must not truncate (sliced via /Length);
    inflate garbage is skipped, never emitted as text; an indirect
    /Length falls back to the scan."""
    import zlib

    from embedanything_spark import mediacodecs as mc

    ops = b"BT (contains endstream inside) Tj ET"
    comp = zlib.compress(ops, 0)  # stored blocks embed the literal
    assert b"endstream" in comp
    pdf = (b"%PDF-1.4\n1 0 obj << /Length " + str(len(comp)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + comp
           + b"\nendstream\nendobj\n%%EOF")
    assert mc.pdf_to_text(pdf) == "contains endstream inside"

    bad = (b"%PDF-1.4\n1 0 obj << /Length 10 /Filter /FlateDecode >>"
           b"\nstream\n\x00\x01GARBAGE!!\nendstream\nendobj\n%%EOF")
    assert mc.pdf_to_text(bad) == ""

    ind = zlib.compress(b"BT (indirect len) Tj ET")
    pdf3 = (b"%PDF-1.4\n1 0 obj << /Length 5 0 R /Filter /FlateDecode"
            b" >>\nstream\n" + ind + b"\nendstream\nendobj\n%%EOF")
    assert mc.pdf_to_text(pdf3) == "indirect len"


def test_bm25_dataframe_plan_no_term_window(spark):
    """The index-less BM25 slice resolves per-term df via map-side
    partial aggregation + broadcast join — a Zipf-head query term
    must NOT funnel its tf rows through one window partition."""
    import contextlib
    import io

    from embedanything_spark.operators.docops import bm25_topk

    df = bm25_topk(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan, "per-term window exchange is back"
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower()


def test_serving_prune_rank_identity(spark, tmp_path, queries_pdf):
    """The serving path's one fetch path: pruned equals unpruned, and a
    warm row-group cache answers and decodes exactly as the cold first
    pass did (the cache changes what is read, never what the bound
    sweep decodes)."""
    t = gen_transcripts_df(spark, 60)
    root = str(tmp_path / "prune")
    IndexWriter(root, block_range=64, num_partitions=2).build(t)
    reader = IndexReader(None, root)
    q = queries_pdf.head(12)
    cold = reader.search_local(q, decode_acc=(cold_cnt := _Counter()))
    warm = reader.search_local(q, decode_acc=(warm_cnt := _Counter()))
    pd.testing.assert_frame_equal(warm, cold)
    assert warm_cnt.n == cold_cnt.n
    unpruned = reader.search_local(q, prune=False,
                                   decode_acc=(full_cnt := _Counter()))
    pd.testing.assert_frame_equal(cold, unpruned)
    assert cold_cnt.n <= full_cnt.n
    fresh = IndexReader(None, root)
    pd.testing.assert_frame_equal(
        fresh.search_local(q, decode_acc=(f_cnt := _Counter())), cold)
    assert f_cnt.n == cold_cnt.n


def test_nonlocal_root_serves_through_cache(spark, tmp_path, queries_pdf,
                                            monkeypatch):
    """A root on a non-local pyarrow filesystem serves through the
    same cached lookups as a local one, frame-equal. Simulated end to
    end with a SubTreeFileSystem — a real pyarrow FS that is not a
    LocalFileSystem."""
    from pyarrow import fs as pafs

    from embedanything_spark.index import build as bmod

    t = gen_transcripts_df(spark, 50)
    root = str(tmp_path / "regime")
    IndexWriter(root, block_range=64, num_partitions=2).build(t)
    q = queries_pdf.head(8)
    local = IndexReader(None, root).search_local(q)

    real_index_fs = bmod.index_fs

    def nonlocal_index_fs(r):
        fsys, base = real_index_fs(r)
        if isinstance(fsys, pafs.LocalFileSystem):
            fsys = pafs.SubTreeFileSystem("/", fsys)
        return fsys, base

    monkeypatch.setattr(bmod, "index_fs", nonlocal_index_fs)
    remote = IndexReader(None, root)
    pd.testing.assert_frame_equal(remote.search_local(q), local)
    assert isinstance(remote._table("postings").fs,
                      pafs.SubTreeFileSystem)
    fills = remote.cache_stats()["row_group_fills"]
    assert fills > 0
    pd.testing.assert_frame_equal(remote.search_local(q), local)
    stats = remote.cache_stats()
    assert stats["row_group_fills"] == fills
    assert stats["row_group_hits"] > 0


def test_search_k_zero_is_empty_not_crash(spark, tmp_path):
    """k <= 0 asks for nothing: the query is skipped (same contract
    as empty/unseen terms), never an IndexError from the prune
    branch or a ValueError from the top-k preselect — mixed batches
    keep serving the valid queries."""
    t = gen_transcripts_df(spark, 30)
    root = str(tmp_path / "kz")
    IndexWriter(root, block_range=64, num_partitions=2).build(t)
    reader = IndexReader(None, root)
    q = pd.DataFrame({"query_id": [0, 1, 2],
                      "query_text": ["term00000"] * 3,
                      "k": [0, 3, -1]})
    for prune in (True, False):
        out = reader.search_local(q, prune=prune)
        assert set(out["query_id"]) == {1}
        assert len(out) == 3
    only_zero = reader.search_local(q.head(1))
    assert len(only_zero) == 0


def test_cleanup_orphans_spares_retired_dirs(spark, tmp_path):
    """An incremental build resumed against a compacted root must not
    treat retired-but-retained batch dirs as orphans: they sit inside
    their retention window and a live serving reader may still be
    scanning them."""
    t = gen_transcripts_df(spark, 30)
    root = tmp_path / "orph"
    w = IndexWriter(str(root), block_range=64, num_partitions=2)
    CheckpointedIndexBuilder(w, n_batches=2).run(t)
    reader = IndexReader(None, str(root))
    q = _q("term00000")
    base = reader.search_local(q)

    w.compact(spark)
    import json as _json
    retired = _json.loads(
        (root / "_meta/retired.json").read_text())["dirs"]
    assert retired and all((root / "data" / d).exists()
                           for d in retired)

    # a new builder run (resume/incremental) triggers orphan cleanup
    CheckpointedIndexBuilder(w, n_batches=1)._cleanup_orphans()
    assert all((root / "data" / d).exists() for d in retired), \
        "orphan cleanup deleted dirs inside their retention window"
    pd.testing.assert_frame_equal(reader.search_local(q), base)


def test_expire_retired_skips_committed_dirs(spark, tmp_path):
    """_expire_retired's lineage guard: a retired.json that lists dirs
    still in the committed lineage (the crash-between-record-and-swap
    state) must not delete them — they are live."""
    import json as _json

    t = gen_transcripts_df(spark, 30)
    root = tmp_path / "crashwin"
    w = IndexWriter(str(root), block_range=64, num_partitions=2)
    w.build(t)
    live = [f"batch-{ln['batch_id']}" for ln in committed_lineage(root)]
    (root / "_meta/retired.json").write_text(
        _json.dumps({"dirs": live}))
    w.expire_retired()
    assert all((root / "data" / d).exists() for d in live)
    # the guard keeps the still-live entries listed for a later cycle
    kept = _json.loads((root / "_meta/retired.json").read_text())["dirs"]
    assert set(kept) == set(live)


def test_pdf_length_parsing_edges():
    """/Length parsing edges: an indirect ref with object number >= 10
    must not backtrack-match as a direct length, and an earlier
    object's /Length must never slice a later stream (only the dict
    adjacent to the stream supplies it)."""
    import zlib

    from embedanything_spark import mediacodecs as mc

    ind = zlib.compress(b"BT (indirect ten) Tj ET")
    pdf = (b"%PDF-1.4\n1 0 obj << /Length 12 0 R /Filter /FlateDecode"
           b" >>\nstream\n" + ind + b"\nendstream\nendobj\n%%EOF")
    assert mc.pdf_to_text(pdf) == "indirect ten"

    ops = zlib.compress(b"BT (right dict) Tj ET")
    pdf2 = (b"%PDF-1.4\n1 0 obj << /Length 99 >>\nendobj\n"
            b"2 0 obj << /Filter /FlateDecode >>\nstream\n" + ops
            + b"\nendstream\nendobj\n%%EOF")
    assert mc.pdf_to_text(pdf2) == "right dict"


def test_authority_bearing_uri_root(spark, tmp_path, queries_pdf,
                                    monkeypatch):
    """An index root like hdfs://host:port/path must serve correctly:
    the filesystem object carries scheme AND authority, so listings
    must be fs-relative (naive scheme-stripping kept 'host:port' in
    the path and silently listed nothing → zero-row answers).
    Simulated end-to-end: a mock:// URI resolved to a real pyarrow
    SubTreeFileSystem whose paths exclude the authority."""
    from pyarrow import fs as pafs

    from embedanything_spark.index import build as bmod

    t = gen_transcripts_df(spark, 50)
    backing = tmp_path / "backing"
    local_root = str(backing / "idx")
    IndexWriter(local_root, block_range=64, num_partitions=2).build(t)
    q = queries_pdf.head(8)
    expected = IndexReader(None, local_root).search_local(q)
    assert len(expected) > 0

    real_index_fs = bmod.index_fs

    def mock_index_fs(r):
        s = str(r)
        if s.startswith("mock://nn:8020"):
            return (pafs.SubTreeFileSystem(str(backing),
                                           pafs.LocalFileSystem()),
                    s[len("mock://nn:8020"):])
        return real_index_fs(r)

    monkeypatch.setattr(bmod, "index_fs", mock_index_fs)
    remote = IndexReader(None, "mock://nn:8020/idx")
    got = remote.search_local(q)
    assert len(got) > 0, "authority-bearing root listed nothing"
    pd.testing.assert_frame_equal(got, expected)


def test_compact_prefix_mass_fallback(spark, tmp_path, queries_pdf,
                                      monkeypatch):
    """Above _EXACT_MASS_TERMS distinct terms, compaction's
    posting-mass boundaries aggregate to an order-preserving term
    prefix instead of collecting the full vocabulary. Force the
    fallback (threshold 0) and require bit-identical ranking to the
    pre-compact index."""
    from embedanything_spark.index import build as bmod

    t = gen_transcripts_df(spark, 40)
    root = str(tmp_path / "pref")
    w = IndexWriter(root, block_range=64, num_partitions=2)
    w.build(t)
    q = queries_pdf.head(8)
    before = IndexReader(None, root).search_local(q)

    monkeypatch.setattr(bmod, "_EXACT_MASS_TERMS", 0)
    w.compact(spark)
    after = IndexReader(None, root).search_local(q)
    pd.testing.assert_frame_equal(after, before)
