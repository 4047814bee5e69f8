"""The two perfbench workloads, ``ingest`` and ``serve``.

Each drives the engine only through its public calls, keeps every
oracle check outside the timed windows, and fills ``ctx.e2e`` (the
end-to-end metrics) and ``ctx.layers`` (per-layer metrics, traced run
only). The traced ``ingest`` run also times the headline operators of
``__spark_entry__``. See perfbench/README.md for what each metric means
per workload.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import subprocess
import sys
import threading
import time
from pathlib import Path

import numpy as np
import pandas as pd

import harness as H

DEFAULT_CONVS = 1000       # ≈ 8k turns, 2 MB of input parquet
# open-loop rate, a third of serve capacity: queueing near capacity turns
# a 10 % slower host into a 2x slower p90
SERVE_BASE_QPS = 12.5
HTTP_TIMEOUT_S = 10.0
# compact(scope="auto") adds a tiered layer per cycle: 2 cycles take the
# index to 3 layers (auto folds the tiers past 4; a third cycle and the
# fold do not fit the run budget)
DELTA_CYCLES = 2
MIN_QUERY_SAMPLES = 100   # p90 with ≥ 10 samples beyond it
SEGMENTS = 4              # slices of each loop; metrics take their median
WARMUP_QUERIES = 10       # answered and checked before any timing
CAL_BURST = 20            # calibration ops between timed phases
QUERY_STREAM_LEN = 2000   # longer than any loop; the HTTP loops wrap
RTOL = 1e-6               # score tolerance of the rank-identity gate
OPS_DOCS_PER_CONV = 5     # operator tables: sf0.1's 5000 docs at 1000 convs


class Context:
    """Per-run state: arguments, work dir, tracer, failure counts and
    the metrics gathered so far."""

    def __init__(self, args, root: Path, work: Path, tracer: H.Tracer):
        self.args = args
        self.root = root
        self.work = work
        self.tracer = tracer
        self.trace = tracer.enabled
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.record: dict = {}
        self.pids: dict[str, int] = {}
        self._perturb = bool(args.perturb)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def check(self, what: str, got, want) -> None:
        """One oracle comparison; a mismatch counts as a failure."""
        self.attempted += 1
        if self._perturb and got:
            # smoke-test hook: corrupt exactly one answer
            got = [(got[0][0] + 1, got[0][1])] + list(got[1:])
            self._perturb = False
        if not matches(got, want):
            self.fail(f"oracle mismatch: {what}")

    def rss_mb(self) -> float:
        """Σ high-water RSS of the Python processes running engine code:
        the Spark driver (this process), Spark's Python workers and the
        server. The JVM's high-water mark follows garbage-collector
        timing (1.7 to 3.6 GB across identical runs), so it goes to the
        run record only. Called before the JVM stops (its workers go
        with it) and at the end; each process keeps its highest
        figure."""
        split = {k: H.rss_hwm_mb(p) for k, p in self.pids.items()}
        if "jvm" in self.pids:
            split["workers"] = sum(H.rss_hwm_mb(p) for p in
                                   H.descendants(self.pids["jvm"]))
        hwm = self.record.setdefault("rss_mb", {})
        for k, v in split.items():
            hwm[k] = max(hwm.get(k, 0.0), v)
        return sum(v for k, v in hwm.items() if k != "jvm")


def matches(got: list[tuple[int, float]],
            want: list[tuple[int, float]]) -> bool:
    """Rank identity: the same doc_ids in the same order, scores
    within RTOL."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(abs(g - w) <= RTOL * max(abs(w), 1e-12)
               for (_, g), (_, w) in zip(got, want))


def rows_to_answers(rows) -> dict[int, list[tuple[int, float]]]:
    """Engine result rows (query_id, rank, doc_id, score, ...) →
    {query_id: [(doc_id, score)] in rank order}."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (int(r["query_id"]),
                                         int(r["rank"]))):
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"])))
    return out


def oracle_topk(oracle, text: str, k: int) -> list[tuple[int, float]]:
    """The exact top-k of ``embedanything_spark.oracle.OracleIndex``."""
    r = oracle.score_query(text, int(k))
    return [(int(d), float(v)) for d, v in zip(r["doc_id"], r["score"])]


def query_stream(seed: int, n: int) -> list[tuple[str, int]]:
    """gen_query_set(seed), gen_query_set(seed + 1), … concatenated."""
    from embedanything_spark.datagen import gen_query_set
    out: list[tuple[str, int]] = []
    i = 0
    while len(out) < n:
        q = gen_query_set(seed + i)
        out += list(zip(q["query_text"], q["k"].astype(int)))
        i += 1
    return out[:n]


def slices(values: list, n: int = SEGMENTS) -> list[list]:
    """``values`` cut into ``n`` consecutive slices of near-equal size."""
    step = -(-len(values) // n)
    return [values[i * step:(i + 1) * step] for i in range(n)]


def segment_p50(lat: list[float]) -> float:
    """Median of the medians of SEGMENTS consecutive slices: a burst of
    host steal shorter than half the loop does not move it."""
    return H.median([H.quantile(s, 0.5) for s in slices(lat) if s])


def host_norm_s(phases: list[float], bursts: list[list[float]]) -> float:
    """Σ phase seconds on the reference host: phase i scaled by the
    faster of calibration bursts i and i + 1, taken before and after
    it."""
    return sum(t * H.Calibrator.scale_between(b0, b1)
               for t, b0, b1 in zip(phases, bursts, bursts[1:]))


def host_norm_p50(lat: list[float], cal_ms: list[float]) -> float:
    """Median latency on the reference host: each of SEGMENTS slices of
    ``lat`` scaled by the calibration ops interleaved with that slice,
    then the median of all scaled samples."""
    return H.median([x * H.Calibrator.scale(c)
                     for q, c in zip(slices(lat), slices(cal_ms))
                     for x in q])


def _one_query(text: str, k: int) -> pd.DataFrame:
    return pd.DataFrame({"query_id": [0], "query_text": [text], "k": [k]})


def _local_answer(df: pd.DataFrame) -> list[tuple[int, float]]:
    return rows_to_answers(df.to_dict("records")).get(0, [])


def _read_transcripts(path: Path) -> pd.DataFrame:
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=["conv_id", "turn_idx",
                                        "text"]).to_pandas()


# ------------------------------------------------------ per-layer extras

def live_files(index: Path) -> list[Path]:
    """Parquet files of the committed batches and the dictionary. Batch
    dirs a compaction retired stay on disk until the next compaction
    (the readers' retention window) and are not counted."""
    from embedanything_spark.index.build import committed_lineage
    dirs = [index / "data" / f"batch-{ln['batch_id']}"
            for ln in committed_lineage(str(index))] + [index / "dictionary"]
    return [f for d in dirs for f in sorted(d.rglob("*.parquet"))]


def index_bytes(index: Path) -> int:
    return sum(f.stat().st_size for f in live_files(index))


def storage_layers(ctx: Context, index: Path) -> None:
    import pyarrow.parquet as pq
    files = live_files(index)
    mb = {"postings": 0, "docmap": 0, "dictionary": 0}
    for f in files:
        key = ("dictionary" if "dictionary" in f.parts else
               "postings" if "kind=block" in f.parts else
               "docmap" if "kind=doc" in f.parts else None)
        if key:
            mb[key] += f.stat().st_size
    ctx.layers.update({
        "index.build.postings_mb": mb["postings"] / 1e6,
        "index.build.docmap_mb": mb["docmap"] / 1e6,
        "index.build.dictionary_mb": mb["dictionary"] / 1e6,
        "index.build.files": len(files),
        "index.build.row_groups": sum(pq.ParquetFile(f).num_row_groups
                                      for f in files),
    })


def micro_layers(ctx: Context, index: Path, texts: pd.Series,
                 sample: list[tuple[str, int]]) -> None:
    """Analyzer and codec throughput over this run's own inputs, plus
    the query sample's candidate blocks (untimed, traced run only)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from embedanything_spark.analyzer import tokenize, tokenize_batch
    from embedanything_spark.index.build import table_paths
    from embedanything_spark.index.codec import (varint_decode,
                                                 varint_encode_offsets)

    def rate(fn, work: float, min_s: float = 0.3) -> float:
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return n * work / dt

    tokens = int(tokenize_batch(texts).map(len).sum())
    ctx.layers["analyzer.tokens_per_s"] = rate(
        lambda: tokenize_batch(texts), tokens)

    terms = sorted({t for q, _ in sample for t in tokenize(q)})
    files = [str(f) for d in table_paths(str(index), "postings")
             for f in sorted(Path(d).glob("*.parquet"))]
    blocks = pads.dataset(files, format="parquet").to_table(
        columns=["doc_bytes", "tf_bytes", "dl_bytes"],
        filter=pc.field("term").isin(terms))
    payloads = [b for c in ("doc_bytes", "tf_bytes", "dl_bytes")
                for b in blocks[c].to_pylist() if b]
    ctx.layers["index.query.candidate_blocks"] = blocks.num_rows
    in_mb = sum(len(b) for b in payloads) / 1e6
    ctx.layers["index.codec.decode_mb_per_s"] = rate(
        lambda: [varint_decode(b) for b in payloads], in_mb)
    ints = [varint_decode(b) for b in payloads]
    out_mb = sum(int(varint_encode_offsets(v)[1][-1])
                 for v in ints if len(v)) / 1e6
    ctx.layers["index.codec.encode_mb_per_s"] = rate(
        lambda: [varint_encode_offsets(v) for v in ints], out_mb)


class _Counter:
    """``decode_acc`` for the driver-side path: counts decoded ranges."""

    def __init__(self):
        self.value = 0

    def add(self, n: int) -> None:
        self.value += n


def decode_layers(ctx: Context, reader, sample) -> None:
    """Ranges decoded with pruning vs all ranges (one unpruned pass)."""
    q = pd.DataFrame({"query_id": range(len(sample)),
                      "query_text": [t for t, _ in sample],
                      "k": [k for _, k in sample]})
    pruned, full = _Counter(), _Counter()
    reader.search_local(q, prune=True, decode_acc=pruned)
    reader.search_local(q, prune=False, decode_acc=full)
    ctx.layers.update({
        "index.query.ranges_decoded": pruned.value,
        "index.query.ranges_total": full.value,
        "index.query.decode_ratio": pruned.value / max(1, full.value)})


def local_loop(ctx: Context, reader, stream, seconds: float,
               cal: H.Calibrator | None = None, name="index.query.local"):
    """Closed loop, one caller: search_local one query at a time for
    ``seconds`` and at least MIN_QUERY_SAMPLES queries; with ``cal``, one
    calibration op after each query. Returns the latencies, the
    calibration times and the answers."""
    lat, cal_ms, answers = [], [], []
    t_end = time.perf_counter() + seconds
    for i, (text, k) in enumerate(stream):
        if i >= MIN_QUERY_SAMPLES and time.perf_counter() >= t_end:
            break
        try:
            with ctx.tracer.span(name) as sp:
                df = reader.search_local(_one_query(text, k))
            lat.append(sp["s"] * 1e3)
            answers.append((text, k, _local_answer(df)))
        except Exception as e:  # noqa: BLE001 - every query is counted
            ctx.attempted += 1
            ctx.fail(f"search_local: {e!r}")
        if cal is not None:
            cal_ms.append(cal.op())
    return lat, cal_ms, answers


def _session(ctx: Context):
    """Start Spark inside a ``session.start`` span; record its JVM and
    settings."""
    with ctx.tracer.span("session.start") as s_sess:
        spark = H.start_spark(ctx.work, ctx.trace)
    ctx.pids["jvm"] = H.jvm_pid(spark)
    ctx.tracer.sc = spark.sparkContext if ctx.trace else None
    ctx.record["spark"] = H.spark_settings(spark)
    return spark, s_sess


def _stop_session(ctx: Context, spark) -> None:
    """Record the workers' RSS, then stop Spark and its JVM."""
    ctx.rss_mb()
    ctx.tracer.sc = None
    H.stop_spark(spark)


# ---------------------------------------------------------------- ingest

def run_ingest(ctx: Context) -> None:
    """Full build → compact() → DELTA_CYCLES × (process_batch +
    compact(scope="auto")), then, with the JVM stopped, a search_local
    loop on the layered index. Traced, untimed, before the JVM stops:
    one distributed search batch on that index and one pass of the
    headline operators over seeded tables."""
    from pyspark.sql import functions as F

    from embedanything_spark.datagen import (gen_query_set,
                                             gen_transcripts_df)
    from embedanything_spark.index.build import (IndexWriter,
                                                 committed_lineage)
    from embedanything_spark.index.query import IndexReader
    from embedanything_spark.streaming.ingest import StreamingIndexIngest

    a, sp = ctx.args, ctx.tracer.span
    n = a.convs or DEFAULT_CONVS
    d = max(1, n // 100)
    inp, index = ctx.work / "input", ctx.work / "index"

    cal = H.Calibrator(ctx.work)
    bursts = [cal.burst(CAL_BURST)]
    spark, s_sess = _session(ctx)
    try:
        bursts.append(cal.burst(CAL_BURST))
        with sp("datagen.materialize") as s_gen:
            idx = F.substring("conv_id", 6, 8).cast("int")
            (gen_transcripts_df(spark, n + DELTA_CYCLES * d, seed=a.seed)
             .withColumn("part", F.when(idx < n, -1)
                         .otherwise(F.floor((idx - n) / d)))
             .write.partitionBy("part").parquet(str(inp)))
        bursts.append(cal.burst(CAL_BURST))
        # set-up on the reference host, as every time metric here
        ctx.e2e["setup_s"] = host_norm_s([s_sess["s"], s_gen["s"]], bursts)
        ctx.record["setup_raw_s"] = s_sess["s"] + s_gen["s"]
        ctx.layers["session.start_s"] = s_sess["s"]
        ctx.layers["datagen.materialize_s"] = s_gen["s"]
        base = inp / "part=-1"
        input_bytes = H.dir_bytes(inp)   # base and every delta

        stream = query_stream(a.seed, QUERY_STREAM_LEN)
        # host speed around the write phases: a calibration burst before
        # and after each (see host_norm_s)
        bursts = bursts[-1:]
        w = IndexWriter(str(index))
        t_window, cal_s0 = time.perf_counter(), cal.seconds
        untimed = 0.0
        with sp("index.build.write") as s_w:
            lin = w.build(spark.read.parquet(str(base)), finalize=False)
        with sp("index.build.finalize") as s_f:
            w.finalize(spark)
        bursts.append(cal.burst(CAL_BURST))
        build_s = s_w["s"] + s_f["s"]
        turns = lin["n_docs"]
        if ctx.trace:
            t0 = time.perf_counter()
            ctx.layers.update(_partition_stats(spark, index))
            untimed += time.perf_counter() - t0
        with sp("index.build.compact") as s_c:
            w.compact(spark)
        bursts.append(cal.burst(CAL_BURST))
        compact_s = s_c["s"]

        ing = StreamingIndexIngest(str(index), block_range=w.block_range)
        appends, autos = [], []
        for i in range(DELTA_CYCLES):
            delta = spark.read.parquet(str(inp / f"part={i}"))
            with sp("streaming.ingest.append") as s_a:
                ing.process_batch(delta, i)
            with sp("index.build.compact_auto") as s_auto:
                r = w.compact(spark, scope="auto")
            bursts.append(cal.burst(CAL_BURST))
            appends.append(s_a["s"])
            autos.append(s_auto["s"])
        lineage = committed_lineage(str(index))
        indexed = sum(ln["n_docs"] for ln in lineage)
        write_s = (time.perf_counter() - t_window - untimed
                   - (cal.seconds - cal_s0))
        if ctx.trace:
            batch_q = gen_query_set(a.seed)
            with sp("index.query.batch"):
                batch_rows = IndexReader(spark, str(index)).search(
                    batch_q, prune=True).toPandas()
            ops_dir = ctx.work / "operators"
            gen_ops_tables(ops_dir, a.seed, OPS_DOCS_PER_CONV * n)
            ops = run_operators(ctx, spark, ops_dir)
    finally:
        _stop_session(ctx, spark)

    # read path, with the JVM stopped: no Spark thread runs beside it
    t_read, cal_s1 = time.perf_counter(), cal.seconds
    with sp("index.query.reader_open") as s_open:
        reader = IndexReader(None, str(index))
    _, _, answers = local_loop(ctx, reader, stream[:WARMUP_QUERIES], 0,
                               name="index.query.warmup")
    lat, cal_ms, timed = local_loop(ctx, reader, stream[WARMUP_QUERIES:],
                                    a.seconds, cal)
    answers += timed
    window_s = write_s + (time.perf_counter() - t_read
                          - (cal.seconds - cal_s1))
    ctx.e2e["peak_rss_mb"] = ctx.rss_mb()

    maintain_s = sum(appends) + sum(autos)
    work_per_s = indexed / (build_s + compact_s + maintain_s)
    phases = [build_s, compact_s] + [x + y for x, y in zip(appends, autos)]
    ctx.e2e.update({
        "query_p50_hostnorm_ms": host_norm_p50(lat, cal_ms),
        "work_hostnorm_per_s": indexed / host_norm_s(phases, bursts),
        "index_bytes_per_input_byte": index_bytes(index) / input_bytes,
    })
    ctx.record.update({
        "convs": n, "delta_convs": d, "turns": turns,
        "delta_turns": indexed - turns, "input_mb": input_bytes / 1e6,
        "index_mb": index_bytes(index) / 1e6,
        "build_turns_per_s": turns / build_s, "compact_s": compact_s,
        "maintain_s": maintain_s, "append_s": appends,
        "auto_compact_s": autos, "layers": len(lineage),
        "layered_queries": len(lat), "query_p50_ms": segment_p50(lat),
        "query_p90_ms": H.quantile(lat, 0.9), "work_per_s": work_per_s,
        "cal_op_ms_by_burst": [H.median(b) for b in bursts],
        "cal_op_ms_read": H.median(cal_ms),
        "window_s": window_s, "cost_s": window_s})
    if ctx.trace:
        covered = sum(v for k, v in ctx.tracer.self_seconds().items()
                      if not k.startswith(("session.", "datagen.",
                                           "operators", "index.query.batch")))
        decode_layers(ctx, reader, stream[:50])
        storage_layers(ctx, index)
        ctx.layers.update({
            "index.build.write_s": s_w["s"],
            "index.build.finalize_s": s_f["s"],
            "index.build.turns_per_s": turns / build_s,
            "index.build.compact_s": compact_s,
            "index.build.compact_auto_s": sum(autos),
            "index.build.compact_rewritten_files":
                r.get("rewritten_files", 0),
            "index.build.compact_passthrough_files":
                r.get("passthrough_files", 0),
            "index.build.compact_layers_max": len(lineage),
            "streaming.ingest.append_s": sum(appends),
            "index.query.reader_open_ms": s_open["s"] * 1e3,
            "index.query.local_p50_ms": H.quantile(lat, 0.5),
            "index.query.local_p90_ms": H.quantile(lat, 0.9),
            "host.cal_op_ms": H.median(cal.ms),
            "trace.span_coverage_pct": 100.0 * covered / window_s})

    # correctness gate, untimed: the index holds base + deltas 1-3,
    # which is the whole input
    from embedanything_spark.oracle import OracleIndex
    corpus = _read_transcripts(inp)
    oracle = OracleIndex(corpus)
    for text, k, got in answers:
        ctx.check(f"layered {text!r}", got, oracle_topk(oracle, text, k))
    if ctx.trace:
        got = rows_to_answers(batch_rows.to_dict("records"))
        for qid, text, k in batch_q[["query_id", "query_text",
                                     "k"]].itertuples(index=False):
            ctx.check(f"batch {text!r}", got.get(int(qid), []),
                      oracle_topk(oracle, text, k))
        check_operators(ctx, ops_dir, ops)
        _eventlog_layers(ctx)
        micro_layers(ctx, index, corpus["text"].iloc[:2000],
                     stream[:50])


# ------------------------------------------------------------- operators

# bench.py's HEADLINE queries of __spark_entry__.queries(), less
# hybrid_rrf: it caches IVF centroids under a fixed /tmp path, outside
# the checkout this benchmark may write to
OPERATOR_QUERIES = ("bm25_topk", "term_dictionary", "dedup_minhash",
                    "dedup_ngram_jaccard", "knn_cosine", "event_sessionize",
                    "quality_score", "statistical_chunk")
OPS_VOCAB = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
OPS_LANGS = ("en", "de", "es", "fr", "zh")


def gen_ops_tables(out: Path, seed: int, n_docs: int) -> None:
    """The documents, embeddings and events tables the operators read,
    generated from ``seed`` in the shape of the repository's sf0.1 test
    data: at n_docs = 5000, 2000 64-d unit embeddings and 100k events.
    5 % of the documents are an earlier document plus the token "dup"."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.integers(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(OPS_VOCAB,
                                             rng.integers(10, 101))))
    ids = np.arange(n_docs, dtype=np.int64)
    out.mkdir(parents=True)
    pq.write_table(pa.table({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(OPS_LANGS, n_docs, p=[.4, .15, .15, .15, .15]),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out / "documents.parquet")

    n_emb = n_docs * 2 // 5
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }), out / "embeddings.parquet")

    n_ev = n_docs * 20
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + np.cumsum(rng.exponential(26e6, n_ev)).astype(np.int64)
    pq.write_table(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out / "events.parquet")


def run_operators(ctx: Context, spark, sf_dir: Path) -> dict:
    """One pass of OPERATOR_QUERIES, each collected inside its own span.
    Returns {query: result rows}; a query that raises is a failure."""
    import __spark_entry__ as entry
    fns = entry.queries()
    out = {}
    with ctx.tracer.span("operators"):
        for name in OPERATOR_QUERIES:
            try:
                with ctx.tracer.span(f"operators.{name}") as s_q:
                    out[name] = fns[name](spark, str(sf_dir)).toPandas()
                ctx.layers[f"operators.{name}_s"] = s_q["s"]
            except Exception as e:  # noqa: BLE001 - every query is counted
                ctx.attempted += 1
                ctx.fail(f"operators.{name}: {e!r}")
    return out


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same columns and rows, order-insensitive; floats within 1e-9."""
    got, want = _canonical(got), _canonical(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, w = got[c], want[c]
        if a.dtype.kind == "f" or w.dtype.kind == "f":
            if not np.allclose(a.astype(float), w.astype(float),
                               rtol=1e-9, atol=0.0):
                return False
        elif (a.astype(str) != w.astype(str)).any():
            return False
    return True


def check_operators(ctx: Context, sf_dir: Path, results: dict) -> None:
    """Each operator's rows against its DuckDB query in
    ``__spark_entry__.oracle_sql()`` over the same tables."""
    import duckdb

    import __spark_entry__ as entry
    sql = entry.oracle_sql()
    con = duckdb.connect()
    # the engine computes cosine over the float embeddings cast to
    # double; DuckDB's list_cosine_similarity on FLOAT[] works in float32
    # and misses the engine's exact micro-rounded scores by 1. The cast
    # is exact, so both sides see the same values.
    cast = {"embeddings": " REPLACE (embedding::DOUBLE[] AS embedding)"}
    for t in ("documents", "embeddings", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT *{cast.get(t, '')} FROM "
                f"read_parquet('{sf_dir / t}.parquet')")
    for name, got in results.items():
        ctx.attempted += 1
        if not frames_match(got, con.sql(sql[name]).df()):
            ctx.fail(f"operators.{name}: oracle mismatch")
    con.close()


# ----------------------------------------------------------------- serve

def _post(port: int, text: str, k: int) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port,
                                      timeout=HTTP_TIMEOUT_S)
    try:
        conn.request("POST", "/v1/search",
                     json.dumps({"query": text, "k": int(k)}),
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class HttpLoad:
    """One generator process, ≤ NPROC connections. Records, per
    request: due, sent and completion time, status and response body.
    Bodies are parsed after the window, off the timed path."""

    def __init__(self, port: int, stream):
        self.port, self.stream = port, stream
        self.lock = threading.Lock()
        self.next = 0

    def _take(self) -> tuple[str, int]:
        with self.lock:
            i = self.next
            self.next += 1
        return self.stream[i % len(self.stream)]

    def _send(self, text, k, due, out) -> None:
        sent = time.perf_counter()
        try:
            status, body = _post(self.port, text, k)
        except (OSError, http.client.HTTPException) as e:
            status, body = repr(e), b""
        out.append({"due": due, "sent": sent, "done": time.perf_counter(),
                    "ok": status == 200, "status": status, "text": text,
                    "k": k, "body": body})

    def open_loop(self, rate: float, seconds: float,
                  min_requests: int) -> tuple[list, list]:
        """Requests due every 1/rate s, for ``seconds`` and at least
        ``min_requests``; each latency runs from its due time, so a
        stall also delays every request queued behind it."""
        q: queue.Queue = queue.Queue()
        out, late = [], []

        def worker():
            while True:
                item = q.get()
                if item is None:
                    return
                self._send(*item, out)

        threads = [threading.Thread(target=worker)
                   for _ in range(H.NPROC)]
        for t in threads:
            t.start()
        t0 = time.perf_counter()
        n = max(min_requests, int(rate * seconds))
        for j in range(n):
            due = t0 + j / rate
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            late.append(time.perf_counter() - due)
            q.put((*self._take(), due))
        for _ in threads:
            q.put(None)
        for t in threads:
            t.join()
        return out, late

    def closed_loop(self, seconds: float) -> tuple[list, float]:
        """NPROC callers, each sending its next request on a reply."""
        out: list = []
        t_end = time.perf_counter() + seconds

        def caller():
            while time.perf_counter() < t_end:
                self._send(*self._take(), time.perf_counter(), out)

        threads = [threading.Thread(target=caller)
                   for _ in range(H.NPROC)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return out, time.perf_counter() - t0


def _latency_ms(r: dict) -> float:
    """Due time → reply; +inf for a failed request."""
    return (r["done"] - r["due"]) * 1e3 if r["ok"] else float("inf")


def start_server(ctx: Context, index: Path) -> tuple[subprocess.Popen, int]:
    """``cli serve`` on a free localhost port; returns once /health
    answers."""
    proc = subprocess.Popen(
        [sys.executable, "-m", "embedanything_spark.cli", "serve",
         "--index", str(index), "--host", "127.0.0.1", "--port", "0"],
        cwd=ctx.root, stdout=subprocess.PIPE,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
        stderr=(ctx.work / "server.log").open("w"), text=True)
    line = proc.stdout.readline()
    if "serving on" not in line:
        H.stop_process(proc)
        raise RuntimeError(f"server did not start: {line!r}")
    port = int(line.split("://", 1)[1].split()[0].rsplit(":", 1)[1])
    deadline = time.time() + 30
    while True:
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
            conn.request("GET", "/health")
            if conn.getresponse().status == 200:
                conn.close()
                return proc, port
        except OSError:
            if time.time() > deadline:
                H.stop_process(proc)
                raise
            time.sleep(0.1)


def run_serve(ctx: Context) -> None:
    """Setup builds and compacts one uniform index, stops the JVM and
    starts ``cli serve``; timed: SEGMENTS × (an open loop at
    SERVE_BASE_QPS, then a closed loop of NPROC connections), with a
    calibration burst before and after each loop."""
    from embedanything_spark.datagen import gen_transcripts_df
    from embedanything_spark.index.build import IndexWriter
    from embedanything_spark.index.query import IndexReader

    a, sp = ctx.args, ctx.tracer.span
    n = a.convs or DEFAULT_CONVS
    inp, index = ctx.work / "input", ctx.work / "index"
    server = None

    # set-up on the reference host: each phase scaled by the
    # calibration bursts around it
    cal = H.Calibrator(ctx.work)
    bursts = [cal.burst(CAL_BURST)]
    spark, s_sess = _session(ctx)
    try:
        bursts.append(cal.burst(CAL_BURST))
        with sp("datagen.materialize") as s_gen:
            gen_transcripts_df(spark, n, seed=a.seed).write.parquet(str(inp))
        bursts.append(cal.burst(CAL_BURST))
        w = IndexWriter(str(index))
        with sp("index.build.write") as s_w:
            lin = w.build(spark.read.parquet(str(inp)), finalize=False)
        with sp("index.build.finalize") as s_f:
            w.finalize(spark)
        bursts.append(cal.burst(CAL_BURST))
        with sp("index.build.compact") as s_c:
            rc = w.compact(spark)
        bursts.append(cal.burst(CAL_BURST))
        if ctx.trace:
            ctx.layers.update(_partition_stats(spark, index))
    finally:
        _stop_session(ctx, spark)

    try:
        with sp("server.start") as s_srv:
            server, port = start_server(ctx, index)
        ctx.pids["server"] = server.pid
        bursts.append(cal.burst(CAL_BURST))
        setup = [s_sess["s"], s_gen["s"], s_w["s"] + s_f["s"], s_c["s"],
                 s_srv["s"]]
        ctx.e2e["setup_s"] = host_norm_s(setup, bursts)
        ctx.record["setup_raw_s"] = sum(setup)
        ctx.record["cal_op_ms_setup"] = [H.median(b) for b in bursts]
        input_bytes = H.dir_bytes(inp)
        stream = query_stream(a.seed, QUERY_STREAM_LEN)
        load = HttpLoad(port, stream)
        warm = []
        for _ in range(WARMUP_QUERIES):
            load._send(*load._take(), time.perf_counter(), warm)

        t_window, cal_s0 = time.perf_counter(), cal.seconds
        # SEGMENTS × (open loop, closed loop), a calibration burst before
        # and after each loop; a loop's times are scaled to the reference
        # host by the two bursts around it, then pooled over segments
        opened, late, closed, p50s, rates = [], [], [], [], []
        bursts = [cal.burst(CAL_BURST)]
        norm_lat, norm_ok, norm_s = [], 0, 0.0
        backlog = False
        for _ in range(SEGMENTS):
            with sp("server.open_loop"):
                o, lt = load.open_loop(SERVE_BASE_QPS, a.seconds / SEGMENTS,
                                       MIN_QUERY_SAMPLES // SEGMENTS)
            bursts.append(cal.burst(CAL_BURST))
            with sp("server.closed_loop"):
                c, c_s = load.closed_loop(2 * a.seconds / SEGMENTS)
            bursts.append(cal.burst(CAL_BURST))
            # a failed request misses any latency limit
            p50s.append(H.quantile([_latency_ms(r) for r in o], 0.5))
            rates.append(sum(r["ok"] for r in c) / c_s)
            scale = H.Calibrator.scale_between(bursts[-3], bursts[-2])
            norm_lat += [_latency_ms(r) * scale for r in o]
            norm_ok += sum(r["ok"] for r in c)
            norm_s += c_s * H.Calibrator.scale_between(bursts[-2],
                                                       bursts[-1])
            # a growing backlog: waits in the segment's second half well
            # above those in its first half
            w_o = [r["sent"] - r["due"] for r in o]
            h = len(w_o) // 2
            backlog |= H.median(w_o[h:]) > 2 * H.median(w_o[:h]) + 0.005
            opened += o
            late += lt
            closed += c
        window_s = time.perf_counter() - t_window - (cal.seconds - cal_s0)

        # an answered request is counted by its oracle check below
        for r in warm + opened + closed:
            if not r["ok"]:
                ctx.attempted += 1
                ctx.fail(f"http {r['status']}")
        lat = [_latency_ms(r) for r in opened]
        ctx.e2e.update({
            "query_p50_hostnorm_ms": H.median(norm_lat),
            "work_hostnorm_per_s": norm_ok / norm_s,
            "index_bytes_per_input_byte": index_bytes(index) / input_bytes,
        })
        waits = [(r["sent"] - r["due"]) * 1e3 for r in opened]
        ctx.record.update({
            "convs": n, "turns": lin["n_docs"],
            "input_mb": input_bytes / 1e6,
            "index_mb": index_bytes(index) / 1e6,
            "open_loop_qps": SERVE_BASE_QPS,
            "open_loop_requests": len(opened),
            "http_p50_ms_by_segment": p50s, "http_p90_ms": H.quantile(lat, 0.9),
            "query_p50_ms": H.median(p50s),
            "closed_loop_qps_by_segment": rates,
            "work_per_s": H.median(rates),
            "cal_op_ms_by_burst": [H.median(b) for b in bursts],
            "connections": H.NPROC,
            "closed_loop_requests": len(closed),
            "backlog_growing": backlog,
            "build_turns_per_s": lin["n_docs"] / (s_w["s"] + s_f["s"]),
            "compact_s": s_c["s"],
            "window_s": window_s,
            "cost_s": 1.0 / H.median(rates)})
        if ctx.trace:
            with sp("index.query.reader_open") as s_open:
                reader = IndexReader(None, str(index))
            local_lat, _, _ = local_loop(ctx, reader, stream, 0)
            decode_layers(ctx, reader, stream[:50])
            storage_layers(ctx, index)
            lp50 = H.quantile(local_lat, 0.5)
            ctx.layers.update({
                "session.start_s": s_sess["s"],
                "datagen.materialize_s": s_gen["s"],
                "index.build.write_s": s_w["s"],
                "index.build.finalize_s": s_f["s"],
                "index.build.turns_per_s":
                    lin["n_docs"] / (s_w["s"] + s_f["s"]),
                "index.build.compact_s": s_c["s"],
                "index.build.compact_layers_max": 1,
                "index.build.compact_rewritten_files":
                    rc.get("rewritten_files", 0),
                "index.build.compact_passthrough_files":
                    rc.get("passthrough_files", 0),
                "index.query.reader_open_ms": s_open["s"] * 1e3,
                "index.query.local_p50_ms": lp50,
                "index.query.local_p90_ms": H.quantile(local_lat, 0.9),
                "server.overhead_p50_ms": H.quantile(lat, 0.5) - lp50,
                "server.http_p90_ms": H.quantile(lat, 0.9),
                "server.wait_p90_ms": H.quantile(waits, 0.9),
                "server.generator_late_ms": H.quantile(late, 0.9) * 1e3,
                "host.cal_op_ms": H.median(cal.ms),
                "trace.span_coverage_pct": 100.0 * (
                    ctx.tracer.total("server.open_loop")
                    + ctx.tracer.total("server.closed_loop")) / window_s})
    finally:
        ctx.e2e["peak_rss_mb"] = ctx.rss_mb()
        if server is not None:
            H.stop_process(server)

    from embedanything_spark.oracle import OracleIndex
    corpus = _read_transcripts(inp)
    oracle = OracleIndex(corpus)
    for r in warm + opened + closed:
        if r["ok"]:
            try:
                got = rows_to_answers(json.loads(r["body"])["results"])
            except (ValueError, KeyError, TypeError):
                got = {}
            ctx.check(f"http {r['text']!r}", got.get(0, []),
                      oracle_topk(oracle, r["text"], r["k"]))
    if ctx.trace:
        _eventlog_layers(ctx)
        micro_layers(ctx, index, corpus["text"].iloc[:2000], stream[:50])


def _partition_stats(spark, index: Path) -> dict:
    from embedanything_spark.index.build import partition_lineage
    parts = partition_lineage(spark, str(index)).toPandas()
    return {"index.build.partitions": len(parts),
            "index.build.part_s_p50": float(parts.part_sec.median()),
            "index.build.part_s_max": float(parts.part_sec.max())}


def _eventlog_layers(ctx: Context) -> None:
    """Per-layer task time, shuffle, spill and stage counts from the
    event log, rolled up by the job groups the spans set."""
    ev = H.rollup_event_log(ctx.work / "eventlog")
    ctx.record["eventlog"] = ev
    b = ev.get("index.build.write", {})
    c = ev.get("index.build.compact", {})
    ctx.layers.update({
        "index.build.task_s": b.get("task_s", 0.0),
        "index.build.shuffle_write_mb": b.get("shuffle_write_mb", 0.0),
        "index.build.spill_mb": b.get("spill_mb", 0.0),
        "index.build.stages": b.get("stages", 0),
        "index.build.compact_task_s": c.get("task_s", 0.0),
        "index.build.compact_shuffle_write_mb":
            c.get("shuffle_write_mb", 0.0)})
    ops = [v for k, v in ev.items() if k.startswith("operators.")]
    ctx.layers.update({
        "operators.task_s": sum(v.get("task_s", 0.0) for v in ops),
        "operators.shuffle_mb": sum(v.get("shuffle_write_mb", 0.0)
                                    + v.get("shuffle_read_mb", 0.0)
                                    for v in ops)})
    q = ev.get("index.query.batch")
    if q:
        ctx.layers.update({
            "index.query.batch_task_s": q["task_s"],
            "index.query.batch_shuffle_mb":
                q["shuffle_write_mb"] + q["shuffle_read_mb"],
            "index.query.batch_jobs": q["jobs"],
            # tokenize, df lookup, rank and docmap fetch on the driver
            "index.query.batch_driver_s":
                ctx.tracer.total("index.query.batch") - q["job_wall_s"]})
