"""BM25 top-k query engine over the posting-list index (SURVEY.md §7.7-8).

Distributed plan:

  query terms (tiny, driver-side tokenize — same frozen analyzer)
    → dictionary df lookup DRIVER-SIDE (the serving path's keyed
      lookup over the term-sorted dictionary, below; ships in the
      kernel closure — no dictionary scan or broadcast join inside
      the Spark job)
    → postings scan filtered term IN (...) — file/row-group pruned
    → repartition(hash(range_id)): every doc's blocks for ALL query
      terms are co-located (blocks are doc-range-aligned), so scoring
      is partition-local
    → mapInPandas: per-partition block-max sweep (below) emitting ≤ k
      candidates per query per partition
    → global top-k DRIVER-SIDE: the ≤ buckets·Σk candidate rows rank
      in pandas (same cumcount kernel the serving path uses) — a
      row_number window here only added an exchange + sort stage per
      query job
    → docmap fetch DRIVER-SIDE for the surviving doc_ids (the same
      keyed lookup; docmap files are doc_id-ordered, so footer min/max
      picks O(Σk) row groups, not O(corpus)).

Serving plan (``search_local``): the identical scoring kernel,
executed driver-side over keyed lookups into a per-reader cache of
DECODED parquet row groups — the low-latency path a deployment serves
interactive queries from; rank-identical to the distributed plan by
construction and by test. Each index file is one or a few row groups
(8 MB at most), so a term-pushed parquet read decompresses and decodes
a whole group only to keep the few rows of 2–3 query terms. Instead,
each lookup (dictionary df by term, postings blocks by term, docmap by
doc_id):

  → picks row groups from the footer min/max of the key column
    (memoized per reader with the file listing),
  → decodes each chosen row group ONCE per reader and keeps it
    resident in a bounded LRU (``_MAX_CACHED_ROW_GROUP_BYTES``),
  → slices the matching rows by binary search on the key column when
    the row group is sorted by it (compacted layers, the dictionary,
    the docmap, every file this engine writes — checked once, at
    fill), or by an exact ``is_in`` mask when it is not.

The read-side counterpart of a columnar inverted index: decoded
blocks stay resident and are sliced by key, with no format change.
On a 3-layer 8k-turn index (1000 conversations plus two 1 % deltas),
single-query p50 fell from 73 ms to 16 ms on a 4-core x86 host, with
13 MB resident. The distributed plan's driver-side df lookup and
docmap fetch go through the same cache.

Block-max pruning (the engine's one genuinely novel operator —
SURVEY.md §4 item 4): within a partition, per query, ranges are
processed in descending order of their summed per-term upper bounds
ub(term, range) = idf·(k1+1)·max_tf/(max_tf + k1(1-b+b·min_dl/avgdl)).
Because blocks are doc-range-aligned, Σ_terms ub(term, range) bounds
the score of EVERY doc in the range, so once the local top-k is full
and the next range's bound is strictly below the running k-th score,
all remaining ranges are skipped — never decoded. Exact top-k is
preserved (property-tested: pruned == unpruned on every fixture query).

Determinism: a doc's contributions are summed in sorted (doc, term)
order via reduceat — fixed f64 addition order at any cluster size.
Tie-break (score DESC, doc_id ASC) everywhere.

Latency note: the search plan is static (broadcast dictionary and
candidates, one candidate-proportional exchange) — for latency-
sensitive query sessions set spark.sql.adaptive.enabled=false; AQE's
re-planning only adds per-job overhead here (~18% of single-query p50
measured on this box).

Reference analogue: embed-query → ANN top-k limit → rank assembly
(examples/SearchAgent/SearchR1/lance_retrieval.py:104-166,
rust/src/reranker/model.rs:244-276); MaxSim's per-query-term max/sum
(examples/colbert.py:38-43) is the same gather-score-reduce shape.
"""

from __future__ import annotations

import errno
import json
import threading
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from embedanything_spark import B, K1
from embedanything_spark.analyzer import ANALYZER_VERSION, tokenize
from embedanything_spark.index.build import IMPACT_LADDER, table_paths
from embedanything_spark.index.codec import varint_decode

_CAND_SCHEMA = "query_id int, doc_id long, score double"
_RESULT_COLS = ["query_id", "rank", "doc_id", "conv_id", "turn_idx", "score"]


def _idf(n_docs: int, df: np.ndarray) -> np.ndarray:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _merge_topk(best_doc, best_score, doc, score, k):
    if k <= 0:  # np.partition would raise on kth = len(s)
        return best_doc[:0], best_score[:0]
    d = np.concatenate([best_doc, doc])
    s = np.concatenate([best_score, score])
    if len(d) > 4 * k:
        # O(n) preselect: keep everything scoring >= the k-th largest
        # (ties at the cut INCLUDED, so the doc-id tiebreak below sees
        # exactly the same contenders) — a full lexsort of a 65k-doc
        # range per visited range was the serving path's hottest spot
        # (1.5 s of a 5 s worst-case query at 20M turns).
        kth = np.partition(s, len(s) - k)[len(s) - k]
        keep = s >= kth
        d, s = d[keep], s[keep]
    order = np.lexsort((d, -s))[:k]
    return d[order], s[order]


# Per-partition decoded-block cache cap. Decoded arrays are ~12× the
# encoded payload; candidate blocks are query-proportional (the In()
# pushdown admits only query-term blocks), but a very large query
# batch could still pool more decoded payload than worker memory —
# beyond the cap blocks are decoded without being retained.
_MAX_CACHED_BLOCKS = 8192

# Per-reader cap on the decoded parquet row groups kept resident for
# lookups (Arrow buffers plus the key index, estimated at fill). A row
# group larger than the cap is decoded for its lookup and not kept.
_MAX_CACHED_ROW_GROUP_BYTES = 256 << 20

# The column each logical table is looked up by.
_LOOKUP_KEY = {"dictionary": "term", "postings": "term", "docmap": "doc_id"}


def _score_partition_factory(qinfo: dict, n_docs: int, avgdl: float,
                             prune: bool, decode_acc=None,
                             dfs: dict | None = None):
    """qinfo: {query_id: {"k": int, "terms": [term, ...]}}. Per-term
    global df arrives either as a ``df`` column on the block rows or
    via ``dfs`` ({term: df}, resolved driver-side from the term-sorted
    dictionary — a few row groups for a few dozen terms — and shipped
    in the closure, which keeps the dictionary scan + broadcast join
    OUT of the per-query Spark job entirely).
    ``decode_acc``: optional Spark accumulator counting DECODED ranges
    (pruning-effectiveness instrumentation).

    The sweep is pure numpy: one stable term-major sort of the pooled
    block rows up front, per-term contiguous row slices, and a decode
    cache shared across the batch's queries (a block selected by many
    queries is decoded once). Per-doc summation stays in (doc, term)
    order, so scores are bit-identical at any parallelism. The old
    pandas shape (per-query isin + groupby→dict of sub-frames +
    object-dtype lexsort) cost ~1-2 ms per decoded block — per-block
    Python overhead, the dominant batch-query cost at small
    block_range."""

    def score_partition(batches):
        chunks = [c for c in batches if len(c)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if "df" not in pdf.columns:
            # same semantics as the former inner dictionary join:
            # a block whose term has no dictionary row (possible
            # mid-maintenance) is skipped, not scored with a bad idf
            pdf = pdf[pdf["term"].isin(dfs)].reset_index(drop=True)
            if not len(pdf):
                return
        # stable term-major sort: per-query selections concatenate
        # per-term slices in sorted-term order, fixing the per-doc
        # float summation order (term-ascending, as before)
        pdf = pdf.sort_values("term", kind="stable", ignore_index=True)
        term_arr = pdf["term"].to_numpy(object)
        if "df" in pdf.columns:
            df_arr = pdf["df"].to_numpy(np.float64)
        else:
            df_arr = np.array([dfs[t] for t in term_arr], np.float64)
        idf = _idf(n_docs, df_arr)
        # per-block upper-bound contribution: classic
        # idf · impact(max_tf, min_dl), tightened by the avgdl-ladder
        # max-impact bound when present (build.py module doc) — pick
        # the smallest rung ≥ the current avgdl (validity direction:
        # impact is monotone ↑ in avgdl); the 1+1e-12 guards against
        # ulp-level rounding unseating exactness, and min() keeps
        # whichever bound is tighter per block
        mtf = pdf["max_tf"].to_numpy(np.float64)
        mdl = pdf["min_dl"].to_numpy(np.float64)
        ub = idf * (mtf * (K1 + 1.0)) / \
            (mtf + K1 * (1.0 - B + B * mdl / avgdl))
        if "max_impact" in pdf.columns:
            rung = [i for i, a in enumerate(IMPACT_LADDER)
                    if a >= avgdl]
            if rung:
                L = rung[0]
                # guard on per-row ladder length: a batch written
                # under an older, shorter IMPACT_LADDER keeps its
                # classic bound past its top rung
                mi = np.array(
                    [v[L] if v is not None and L < len(v) else np.inf
                     for v in pdf["max_impact"].to_numpy(object)])
                ub = np.minimum(ub, idf * mi * (1.0 + 1e-12))
        rid_arr = pdf["range_id"].to_numpy(np.int64)
        min_doc = pdf["min_doc"].to_numpy(np.int64)
        doc_b = pdf["doc_bytes"].to_numpy(object)
        tf_b = pdf["tf_bytes"].to_numpy(object)
        dl_b = pdf["dl_bytes"].to_numpy(object)
        uterms, tstarts = np.unique(term_arr, return_index=True)
        tends = np.r_[tstarts[1:], len(term_arr)]
        tslice = {t: (int(s), int(e))
                  for t, s, e in zip(uterms, tstarts, tends)}
        cache: dict[int, tuple] = {}

        def decode_row(i: int):
            hit = cache.get(i)
            if hit is None:
                hit = (np.cumsum(varint_decode(doc_b[i]))
                       .astype(np.int64) + min_doc[i],
                       varint_decode(tf_b[i]).astype(np.float64),
                       varint_decode(dl_b[i]).astype(np.float64))
                if len(cache) < _MAX_CACHED_BLOCKS:
                    cache[i] = hit
            return hit

        out = []
        for qid, q in qinfo.items():
            spans = [tslice[t] for t in sorted(set(q["terms"]))
                     if t in tslice]
            if not spans:
                continue
            k = q["k"]
            sel = np.concatenate([np.arange(s, e) for s, e in spans])
            ro = np.argsort(rid_arr[sel], kind="stable")
            sel = sel[ro]
            rids = rid_arr[sel]
            rstarts = np.nonzero(np.r_[True, rids[1:] != rids[:-1]])[0]
            rends = np.r_[rstarts[1:], len(rids)]
            rub = np.add.reduceat(ub[sel], rstarts)
            visit = np.argsort(-rub, kind="stable")
            best_doc = np.empty(0, dtype=np.int64)
            best_score = np.empty(0, dtype=np.float64)
            for j in visit:
                if prune and len(best_doc) == k and \
                        rub[j] < best_score[-1]:
                    break  # strict: ties at the k-th score still scored
                if decode_acc is not None:
                    decode_acc.add(1)
                docs_l, contrib_l = [], []
                for i in sel[rstarts[j]:rends[j]]:
                    d, tf, dl = decode_row(int(i))
                    denom = tf + K1 * (1.0 - B + B * dl / avgdl)
                    docs_l.append(d)
                    contrib_l.append(idf[i] * (tf * (K1 + 1.0)) / denom)
                if len(docs_l) == 1:
                    # one posting row in this range: docs are already
                    # strictly ascending and unique — no sort, no
                    # per-doc regroup
                    best_doc, best_score = _merge_topk(
                        best_doc, best_score, docs_l[0],
                        contrib_l[0], k)
                    continue
                doc = np.concatenate(docs_l)
                contrib = np.concatenate(contrib_l)
                o = np.argsort(doc, kind="stable")  # in-doc: term order
                doc, contrib = doc[o], contrib[o]
                ds = np.nonzero(np.r_[True, doc[1:] != doc[:-1]])[0]
                best_doc, best_score = _merge_topk(
                    best_doc, best_score, doc[ds],
                    np.add.reduceat(contrib, ds), k)
            out.append(pd.DataFrame({
                "query_id": np.int32(qid),
                "doc_id": best_doc, "score": best_score}))
        if out:
            yield pd.concat(out, ignore_index=True)

    return score_partition


class _Group(NamedTuple):
    """One row group: its file fragment, id and footer key span."""
    frag: object
    id: int
    lo: object
    hi: object


class _Table:
    """A logical table as a reader sees it: its pyarrow dataset, the
    (size, mtime) of every file at listing time, and per row group the
    footer min/max of the lookup key (None = no statistics)."""

    def __init__(self, dataset, fsys, stamps: dict, key: str):
        self.dataset, self.fs, self.stamps, self.key = \
            dataset, fsys, stamps, key
        self.groups = []
        for frag in dataset.get_fragments():
            for rg in frag.row_groups:
                st = (rg.statistics or {}).get(key) or {}
                self.groups.append(_Group(frag, rg.id, st.get("min"),
                                          st.get("max")))

    def groups_for(self, keys: list) -> list:
        """Row groups whose key span may hold one of ``keys`` (sorted)."""
        import bisect
        out = []
        for g in self.groups:
            if g.lo is None or g.hi is None:
                out.append(g)
                continue
            i = bisect.bisect_left(keys, g.lo)
            if i < len(keys) and keys[i] <= g.hi:
                out.append(g)
        return out

    def check_fresh(self, paths: set) -> None:
        """Raise FileNotFoundError when a file the reader listed is gone
        or was replaced: cached row groups would otherwise keep serving
        a lineage that compaction has retired."""
        for info in self.fs.get_file_info(sorted(paths)):
            if (info.size, info.mtime_ns) != self.stamps[info.path]:
                raise FileNotFoundError(
                    errno.ENOENT, "index file removed or replaced since "
                    "the reader listed it", info.path)


class _RowGroup:
    """One decoded row group, sliceable by its lookup key. ``sorted_keys``
    is the key column as numpy when the rows are sorted by it (binary
    search), else None (exact ``is_in`` mask)."""

    def __init__(self, table, key: str):
        import pyarrow.compute as pc
        self.table, self.key = table.combine_chunks(), key
        col = self.table.column(key)
        ordered = col.null_count == 0 and (
            len(col) < 2
            or pc.all(pc.greater_equal(col[1:], col[:-1])).as_py())
        self.sorted_keys = col.to_numpy() if ordered else None
        self.nbytes = self.table.nbytes
        if self.sorted_keys is not None:
            self.nbytes += self.sorted_keys.nbytes
            if self.sorted_keys.dtype == object:
                # a Python str object per row: ~49 B header + its chars
                self.nbytes += col.nbytes + 49 * len(col)

    def select(self, keys: list):
        """Rows whose key is in ``keys`` (sorted), in file order."""
        import pyarrow as pa
        import pyarrow.compute as pc
        if self.sorted_keys is None:
            col = self.table.column(self.key)
            return self.table.filter(
                pc.is_in(col, value_set=pa.array(keys, col.type)))
        want = np.array(keys, dtype=self.sorted_keys.dtype)
        lo = np.searchsorted(self.sorted_keys, want, "left")
        hi = np.searchsorted(self.sorted_keys, want, "right")
        spans = [np.arange(a, b) for a, b in zip(lo, hi) if b > a]
        if not spans:
            return self.table.slice(0, 0)
        return self.table.take(np.concatenate(spans))


class IndexReader:
    def __init__(self, spark: SparkSession, root: str,
                 asof: str | None = None):
        """``asof`` = a committed batch_id → TIME-TRAVEL read: the
        reader sees only batches up to that snapshot. Corpus stats are
        recomputed for the snapshot (n_docs from the lineage manifest;
        avgdl from a metadata-only Σsum_tf over the included posting
        blocks) so scoring AND the WAND bounds are exactly the
        snapshot's — results are identical to an index that had only
        those batches."""
        from embedanything_spark.index.build import read_index_text
        self.spark = spark
        # root may be a plain dir OR a pyarrow.fs URI (file://, s3://,
        # hdfs://): manifests read via read_index_text, file listings
        # via index_fs — the reader never requires POSIX visibility.
        self.root = str(root)
        self.asof = asof
        # one lock guards the table memo, the row-group LRU, its
        # counters and the stale-handle reset; row groups decode
        # outside it
        self._lock = threading.Lock()
        self._tables: dict[str, _Table] = {}
        self._row_groups: OrderedDict = OrderedDict()
        self._generation = 0
        self.row_group_fills = self.row_group_hits = 0
        self.row_group_bytes = 0
        meta_text = read_index_text(self.root, "_meta/meta.json")
        if meta_text is None:
            raise FileNotFoundError(
                f"no finalized index at {root!r}: _meta/meta.json "
                "missing — run IndexWriter.build / "
                "CheckpointedIndexBuilder.run (finalize writes "
                "meta.json last; a crashed build needs resume)")
        self.meta = json.loads(meta_text)
        if self.meta["analyzer_version"] != ANALYZER_VERSION:
            raise ValueError(
                f"index built with analyzer v{self.meta['analyzer_version']}"
                f" but runtime is v{ANALYZER_VERSION} — rebuild required")
        if asof is not None:
            from embedanything_spark.index.build import committed_lineage
            lineage = committed_lineage(self.root)
            ids = [ln["batch_id"] for ln in lineage]
            upto = lineage[:ids.index(asof) + 1] if asof in ids else None
            if upto is None:
                raise ValueError(
                    f"unknown snapshot {asof!r}: committed = {ids}")
            n_docs = sum(ln["n_docs"] for ln in upto)
            tok = (spark.read
                   .parquet(*table_paths(self.root, "postings", asof))
                   .agg(F.sum("sum_tf").alias("t")).collect()[0]["t"])
            self.meta = dict(self.meta,
                             n_docs=int(n_docs),
                             total_tokens=int(tok or 0),
                             avgdl=(int(tok or 0) / n_docs) if n_docs
                             else 0.0)

    def _table(self, table: str) -> _Table:
        """Memoized listing, footers and row-group key statistics of a
        logical table. The reader is a snapshot reader (meta/n_docs/
        avgdl freeze at construction), so caching them is consistent —
        and re-parsing footers per query was the serving path's biggest
        fixed cost. A new IndexReader sees new commits."""
        with self._lock:
            if table in self._tables:
                return self._tables[table]
            import pyarrow.dataset as pads
            from pyarrow import fs as pafs
            from embedanything_spark.index.build import (index_fs,
                                                         join_path)
            fsys, base = index_fs(self.root)
            root_s, base = str(self.root).rstrip("/"), base.rstrip("/")
            stamps: dict[str, tuple] = {}

            def _ls(d: str) -> list[str]:
                # fs-relative listing: swap the root prefix for
                # index_fs's fs-relative base — a URI's scheme AND
                # authority live in the filesystem object (naive
                # scheme-stripping kept an hdfs://host:port authority
                # in the path and silently listed nothing).
                rel = (base + d.rstrip("/")[len(root_s):]
                       if d.startswith(root_s)
                       else d.split("://", 1)[-1])
                sel = pafs.FileSelector(rel, allow_not_found=True)
                found = [i for i in fsys.get_file_info(sel)
                         if i.base_name.endswith(".parquet")]
                stamps.update((i.path, (i.size, i.mtime_ns))
                              for i in found)
                return sorted(i.path for i in found)

            if table == "dictionary":
                files = _ls(join_path(self.root, "dictionary"))
            else:
                files = [f for d in table_paths(self.root, table,
                                                self.asof)
                         for f in _ls(d)]
            self._tables[table] = _Table(
                pads.dataset(files, format="parquet", filesystem=fsys),
                fsys, stamps, _LOOKUP_KEY[table])
            return self._tables[table]

    def _lookup(self, table: str, keys: list, columns: list[str]):
        """The serving read primitive: the rows of ``table`` whose
        lookup key (``_LOOKUP_KEY``) is in ``keys``, as a pyarrow table
        of the key column plus ``columns``. Row groups are chosen by
        their footer key span, decoded once into the reader's LRU, and
        sliced by key (module doc)."""
        import pyarrow as pa
        t = self._table(table)
        keys = sorted(set(keys))
        cols = list(dict.fromkeys([t.key, *columns]))
        hit = t.groups_for(keys)
        t.check_fresh({g.frag.path for g in hit})
        parts = [self._row_group(t, g, cols).select(keys) for g in hit]
        parts = [p for p in parts if p.num_rows]
        if not parts:
            return t.dataset.schema.empty_table().select(cols)
        return pa.concat_tables(parts)

    def _row_group(self, t: _Table, g: _Group, cols: list[str]):
        """A decoded row group from the LRU, filling it on a miss."""
        ck = (g.frag.path, g.id, tuple(cols))
        with self._lock:
            rg = self._row_groups.get(ck)
            if rg is not None:
                self._row_groups.move_to_end(ck)
                self.row_group_hits += 1
                return rg
            gen = self._generation
        rg = self._fill(t, g.frag, g.id, cols)
        with self._lock:
            self.row_group_fills += 1
            if gen != self._generation or ck in self._row_groups \
                    or rg.nbytes > _MAX_CACHED_ROW_GROUP_BYTES:
                return rg
            self._row_groups[ck] = rg
            self.row_group_bytes += rg.nbytes
            while self.row_group_bytes > _MAX_CACHED_ROW_GROUP_BYTES:
                _, old = self._row_groups.popitem(last=False)
                self.row_group_bytes -= old.nbytes
        return rg

    @staticmethod
    def _fill(t: _Table, frag, rg_id: int, cols: list[str]) -> _RowGroup:
        return _RowGroup(frag.subset(row_group_ids=[rg_id])
                         .to_table(schema=t.dataset.schema, columns=cols),
                         t.key)

    def cache_stats(self) -> dict:
        """Row-group cache counters: fills (decodes), hits, resident
        bytes and the cap."""
        with self._lock:
            return {"row_group_fills": self.row_group_fills,
                    "row_group_hits": self.row_group_hits,
                    "row_group_bytes": self.row_group_bytes,
                    "row_group_max_bytes": _MAX_CACHED_ROW_GROUP_BYTES}

    def _term_dfs(self, terms: list[str]) -> dict:
        """Driver-side per-term document frequency: a keyed lookup into
        the term-sorted dictionary (O(row groups holding the terms),
        never O(dictionary)). Time-travel reads derive df from the
        included batches' block metadata instead (the finalized
        dictionary is global): per-term Σn over (term, n) block rows —
        term-keyed and tiny at fixture scale; at extreme scale prefer
        querying a snapshot that has been finalized."""
        if self.asof is None:
            tbl = self._lookup("dictionary", terms, ["df"])
            return dict(zip(tbl["term"].to_pylist(),
                            tbl["df"].to_pylist()))
        pdf = self._lookup("postings", terms, ["n"]).to_pandas()
        if pdf.empty:
            return {}
        return pdf.groupby("term")["n"].sum().astype(int).to_dict()

    def _docmap(self, ids: list[int]) -> pd.DataFrame:
        """(doc_id, conv_id, turn_idx) of ``ids``: a keyed lookup into
        the doc_id-ordered docmap."""
        return self._lookup("docmap", ids,
                            ["conv_id", "turn_idx"]).to_pandas()

    def _term_dfs_spark(self, terms: list[str]) -> dict:
        """Hadoop-FS-agnostic df resolution THROUGH THE JVM —
        ``search``'s fallback when the driver's pyarrow has no
        filesystem for the index root's scheme (e.g. abfss:// or
        hdfs:// without libhdfs). Same contract as ``_term_dfs``; the
        scan is term-pushed so only the query terms' row groups are
        read."""
        from embedanything_spark.index.build import join_path
        if self.asof is None:
            rows = (self.spark.read
                    .parquet(join_path(self.root, "dictionary"))
                    .filter(F.col("term").isin(terms))
                    .select("term", "df").collect())
            return {r["term"]: int(r["df"]) for r in rows}
        rows = (self.spark.read
                .parquet(*table_paths(self.root, "postings", self.asof))
                .filter(F.col("term").isin(terms))
                .groupBy("term").agg(F.sum("n").alias("df")).collect())
        return {r["term"]: int(r["df"]) for r in rows}

    def search_local(self, queries: pd.DataFrame,
                     prune: bool = True, decode_acc=None) -> pd.DataFrame:
        """SERVING path: the same index, the same scoring kernel, the
        same results — no Spark job. Interactive single-query latency
        through ``search`` is dominated by job scheduling (p50 ≈ 1 s
        against ≈ 70 ms of actual work, BENCH/BASELINE.md); a real
        deployment answers queries from a serving tier that reads the
        index storage directly, which is exactly what this does, with
        three keyed lookups into the reader's row-group cache
        (``_lookup``, module doc):

          * dictionary df by term (``_term_dfs``),
          * postings blocks by term — every block of the query terms,
          * the IDENTICAL `_score_partition_factory` numpy sweep over
            one global "partition" (every candidate block is present,
            so its per-partition top-k IS the global top-k),
          * docmap rows by doc_id for the ranked survivors.

        Exactness: rank-identical to ``search`` (property-tested);
        block-max pruning still applies, so decodes stay bounded by
        the same upper-bound sweep. Memory: the decoded row groups a
        reader keeps are capped at ``_MAX_CACHED_ROW_GROUP_BYTES``
        (least recently used go first); ``cache_stats()`` reports
        fills, hits and resident bytes. Scale envelope: postings fetch
        is Σ_term blocks(term) rows — fine for interactive k≪corpus
        queries even at large corpora (that is what block-max indexes
        are for); batch scoring of thousands of queries should use
        ``search`` where the same kernel runs partition-parallel.
        Safe to call from many threads on one reader.

        Returns a pandas DataFrame with ``search``'s result columns.

        Compaction safety: ``compact()`` retires superseded batch dirs
        only on the NEXT compaction cycle (Iceberg-style retention),
        so a long-lived serving reader keeps valid files for a full
        cycle. Every lookup checks that the files it touches still
        exist unchanged; once this reader's listing outlives the
        retention window (or the dictionary is swapped), that check or
        the read surfaces as OSError — caught here, the listing and
        the row-group cache are dropped, and the query is retried once
        against the now-current lineage. Corpus stats are
        compaction-invariant, but a reader that outlived the window
        may ALSO have missed appended deltas — so the retry re-reads
        ``_meta/meta.json`` too (skipped for ``asof`` readers, whose
        stats are pinned to their snapshot by contract).
        """
        gen = self._generation
        try:
            return self._search_local_once(queries, prune, decode_acc)
        except OSError:
            self._reset(gen)
            return self._search_local_once(queries, prune, decode_acc)

    def _reset(self, gen: int) -> None:
        """Drop the listing and the row-group cache (and, for a live
        reader, re-read meta) — once per stale generation, however many
        threads hit the stale handle."""
        with self._lock:
            if gen != self._generation:
                return
            self._generation += 1
            self._tables = {}
            self._row_groups.clear()
            self.row_group_bytes = 0
            if self.asof is None:
                from embedanything_spark.index.build import \
                    read_index_text
                meta_text = read_index_text(self.root, "_meta/meta.json")
                if meta_text is not None:
                    self.meta = json.loads(meta_text)

    def _search_local_once(self, queries: pd.DataFrame,
                           prune: bool = True,
                           decode_acc=None) -> pd.DataFrame:
        qinfo = {}
        all_terms: set[str] = set()
        for r in queries.itertuples():
            terms = sorted(set(tokenize(r.query_text)))
            if terms and int(r.k) > 0:
                # k <= 0 asks for nothing: skip the query entirely —
                # the kernel's prune branch and the top-k preselect
                # both assume k >= 1 (an empty-result query is the
                # same contract as an empty/unseen-terms query).
                qinfo[int(r.query_id)] = {"k": int(r.k), "terms": terms}
                all_terms.update(terms)
        empty = pd.DataFrame({
            "query_id": pd.Series(dtype="int32"),
            "rank": pd.Series(dtype="int32"),
            "doc_id": pd.Series(dtype="int64"),
            "conv_id": pd.Series(dtype=object),
            "turn_idx": pd.Series(dtype="int32"),
            "score": pd.Series(dtype="float64")})
        if not qinfo:
            return empty
        meta = self.meta
        dfs = self._term_dfs(sorted(all_terms))
        names = self._table("postings").dataset.schema.names
        cols = [c for c in ("range_id", "n", "min_doc", "max_tf", "min_dl",
                            "max_impact", "doc_bytes", "tf_bytes",
                            "dl_bytes") if c in names]
        blocks = self._lookup("postings", sorted(all_terms),
                              cols).to_pandas()
        if blocks.empty:
            return empty
        kernel = _score_partition_factory(
            qinfo, meta["n_docs"], meta["avgdl"], prune, decode_acc,
            dfs=dfs)
        parts = list(kernel([blocks]))
        if not parts:
            return empty
        cands = pd.concat(parts, ignore_index=True)
        if cands.empty:
            return empty
        # per-query rank over the ≤k survivors (kernel already merged
        # to global top-k — one partition held every block)
        cands = cands.sort_values(
            ["query_id", "score", "doc_id"],
            ascending=[True, False, True], ignore_index=True)
        cands["rank"] = cands.groupby("query_id").cumcount() + 1
        dm = self._docmap(cands["doc_id"].unique().tolist())
        out = cands.merge(dm, on="doc_id", how="inner")
        return (out[_RESULT_COLS]
                .sort_values(["query_id", "rank"], ignore_index=True)
                .astype({"query_id": "int32", "rank": "int32",
                         "turn_idx": "int32"}))

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, conv_id string, "
                "turn_idx int, score double")

    def search(self, queries: pd.DataFrame, prune: bool = True,
               num_buckets: int | None = None,
               decode_acc=None) -> DataFrame:
        """queries: pandas (query_id, query_text, k) →
        DataFrame (query_id, rank, doc_id, conv_id, turn_idx, score)."""
        qinfo = {}
        all_terms: set[str] = set()
        for r in queries.itertuples():
            terms = sorted(set(tokenize(r.query_text)))
            if terms and int(r.k) > 0:
                # k <= 0 asks for nothing: skip the query entirely —
                # the kernel's prune branch and the top-k preselect
                # both assume k >= 1 (an empty-result query is the
                # same contract as an empty/unseen-terms query).
                qinfo[int(r.query_id)] = {"k": int(r.k), "terms": terms}
                all_terms.update(terms)
        if not qinfo:
            return self._empty()

        # per-term df resolves DRIVER-SIDE from the term-sorted
        # dictionary (the serving path's keyed lookup — a few cached
        # row groups for a few dozen terms) and ships in the kernel closure: the
        # per-query Spark job is postings scan → one exchange →
        # score, with no dictionary scan and no broadcast join stage.
        # Unseen terms simply resolve to no df / no blocks. If the
        # driver's pyarrow cannot reach the root (scheme without a
        # pyarrow filesystem), fall back to the JVM-side dictionary
        # scan so distributed search stays Hadoop-FS-agnostic.
        try:
            dfs = self._term_dfs(sorted(all_terms))
        except (OSError, NotImplementedError, ValueError):
            dfs = self._term_dfs_spark(sorted(all_terms))
        n_buckets = num_buckets or \
            self.spark.sparkContext.defaultParallelism
        raw = self.spark.read.parquet(
            *table_paths(self.root, "postings", self.asof))
        # project to the kernel's columns BEFORE the exchange: the
        # batch dir is a kind-partitioned union table, so an unpruned
        # scan drags every docmap/lineage column (NULL for block rows)
        # through the shuffle and the Arrow boundary
        keep = [c for c in ("term", "range_id", "min_doc", "max_tf",
                            "min_dl", "doc_bytes", "tf_bytes",
                            "dl_bytes", "max_impact")
                if c in raw.columns]
        blocks = (raw
                  .filter(F.col("term").isin(sorted(all_terms)))
                  .select(*keep)
                  .repartition(n_buckets, "range_id"))
        cands = blocks.mapInPandas(
            _score_partition_factory(qinfo, self.meta["n_docs"],
                                     self.meta["avgdl"], prune,
                                     decode_acc, dfs=dfs),
            schema=_CAND_SCHEMA)
        # The per-query rank + k-cut runs DRIVER-SIDE in pandas, the
        # same kernel-output shape search_local ranks for serving:
        # cands is ≤ n_buckets·Σk rows by construction (each partition
        # pre-merged to its own top-k, every doc scored in exactly one
        # partition — range_id routing), so a row_number Window here
        # only added an exchange + sort stage to EVERY query job for
        # ≤ a few hundred rows. Ordering (score DESC, doc_id ASC) is a
        # total order, so the pandas cumcount rank is identical.
        cand_pdf = cands.toPandas()
        if cand_pdf.empty:
            return self._empty()
        cand_pdf = cand_pdf.sort_values(
            ["query_id", "score", "doc_id"],
            ascending=[True, False, True], ignore_index=True)
        cand_pdf["rank"] = cand_pdf.groupby("query_id").cumcount() + 1
        kmap = {qid: q["k"] for qid, q in qinfo.items()}
        ranked_pdf = cand_pdf[
            cand_pdf["rank"] <= cand_pdf["query_id"].map(kmap)
        ].reset_index(drop=True)
        # The final docmap fetch must NOT scan the corpus: ranked is
        # ≤ Σk rows, so materialize it (one scoring job — the ids are
        # needed before the fetch plan can be pruned) and push the
        # surviving doc_ids into the docmap read as In + min/max range
        # filters. docmap files are written in doc_id order, so parquet
        # row-group min/max pruning skips everything but the few row
        # groups holding the hits — the fetch reads O(Σk), not
        # O(corpus) (the reference's id-keyed corpus fetch,
        # examples/SearchAgent/SearchR1/lance_retrieval.py:123-166).
        # The fetch itself runs DRIVER-SIDE through the serving path's
        # keyed docmap lookup (row-group cache): Σk rows never
        # justify scheduling a second Spark job per query batch —
        # measured ~30% of single-query distributed latency. Falls
        # back to the JVM-side scan when pyarrow has no filesystem for
        # the index root's scheme.
        ids = sorted(ranked_pdf["doc_id"].unique().tolist())
        try:
            dm = self._docmap(ids)
        except (OSError, NotImplementedError, ValueError):
            dm = None
        if dm is not None:
            out = (ranked_pdf.merge(dm, on="doc_id", how="inner")
                   [_RESULT_COLS]
                   .sort_values(["query_id", "rank"],
                                ignore_index=True))
            return self.spark.createDataFrame(
                out, schema="query_id int, rank int, doc_id long, "
                            "conv_id string, turn_idx int, "
                            "score double")
        ranked_small = self.spark.createDataFrame(
            ranked_pdf, schema="query_id int, doc_id long, score double, "
                               "rank int")
        docmap = (self.spark.read
                  .parquet(*table_paths(self.root, "docmap", self.asof))
                  .filter(F.col("doc_id").between(ids[0], ids[-1]) &
                          F.col("doc_id").isin(ids)))
        return (docmap.join(F.broadcast(ranked_small), "doc_id")
                .select(*_RESULT_COLS)
                .orderBy("query_id", "rank"))
