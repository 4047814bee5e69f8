"""HTTP serving layer (SURVEY.md §2 S16 — the reference's server/).

The reference ships an OpenAI-compatible embedding server
(``server/src/lib.rs``: ``health_check`` :143, ``create_embeddings``
:148, run :838). This is the Spark-engine analogue, built on the
serving read path:

- ``GET /health`` — liveness, index metadata and the reader's
  row-group cache counters (fills, hits, resident bytes, cap).
- ``POST /v1/embeddings`` — OpenAI-shaped request/response
  (``{"model": ..., "input": "text" | ["text", ...]}`` →
  ``{"object": "list", "data": [{"embedding": [...], ...}]}``) over a
  deterministic feature-hashing text embedding (the classical hashing
  trick: token → md5 → signed dimension bucket, L2-normalized — the
  static-embedding slot; a model-backed deployment swaps the kernel).
- ``POST /v1/search`` — BM25 top-k through ``IndexReader.search_local``
  (``{"query": "...", "k": 10}`` or ``{"queries": [{"query_id",
  "query_text", "k"}, ...]}``). The reference delegates retrieval to
  vector-DB adapters; here the engine itself serves it.
- ``POST /v1/pdf_embeddings`` — ``{"model", "files": [path,...]}``
  (``server/src/lib.rs:321-413`` request/validation contract:
  empty_files / invalid_file_type / file_not_found / invalid_path
  error codes, ``{"error": {"message", "type", "code"}}`` shape) →
  per-chunk embedding items carrying ``text`` + ``metadata``
  (``pdf_embedding_response``, lib.rs:115-141). Decode is the repo's
  real stdlib PDF kernel (``mediacodecs.pdf_to_text``); chunking is
  the reference's default character window (chunk_size 1000,
  overlap_ratio 0.0 — config.rs:64-74).
- ``POST /v1/pdf_embeddings/upload`` — multipart/form-data with
  ``model`` and ``files`` fields (lib.rs:412-560), parsed with the
  stdlib ``email`` package; same response shape.
- ``POST /v1/image_embeddings`` — ``{"model", "images": [base64 or
  data-URL,...]}`` (lib.rs:712-760): real PNG decode + 8×8
  block-luminance embedding; non-PNG formats degrade to the
  deterministic stub seam exactly like the Spark-side
  ``multimodal._decode_asset`` (the env-blocked neural kernel's
  documented stand-in).

Pure stdlib (``http.server`` ThreadingHTTPServer) — and crucially the
process needs NO Spark/JVM: ``IndexReader(None, root)`` works for
serving because ``search_local`` reads the index with pyarrow only.
Spark builds and maintains the index; any number of these stateless
serving processes point at the same committed index root (the commit
protocol guarantees they never see a half-written batch).
"""

from __future__ import annotations

import base64
import binascii
import hashlib
import json
import os
from email.parser import BytesParser
from email.policy import default as _EMAIL_POLICY
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from embedanything_spark.analyzer import tokenize

EMBED_DIM = 64
# Reference chunking defaults for file embedding (config.rs:64-74).
PDF_CHUNK_SIZE = 1000
PDF_OVERLAP_RATIO = 0.0


def text_hash_embeddings_batch(texts, dim: int = EMBED_DIM) -> np.ndarray:
    """VECTORIZED feature-hashing embedding over a batch of texts:
    md5 is computed ONCE PER UNIQUE TOKEN in the batch (not per
    occurrence), then every (doc, token) occurrence lands via one
    ``np.add.at`` scatter-add and rows are L2-normalized in one numpy
    pass. Bit-identical to the scalar ``text_hash_embedding`` for
    every row — the accumulated values are small signed integers, so
    float64 addition is exact and order-independent. This is the
    Arrow-batch kernel behind ``EmbeddingModel.embed_udf``; at scale
    the per-batch cost is O(unique tokens) hashing + O(occurrences)
    numpy, with zero per-row Python in the accumulate/normalize."""
    docs = [tokenize(t or "") for t in texts]
    n_docs = len(docs)
    mat = np.zeros((n_docs, dim), dtype=np.float64)
    flat = [tok for d in docs for tok in d]
    if flat:
        lens = np.fromiter((len(d) for d in docs), np.int64, n_docs)
        uniq, inv = np.unique(np.asarray(flat, dtype=object),
                              return_inverse=True)
        buckets = np.empty(len(uniq), dtype=np.int64)
        signs = np.empty(len(uniq), dtype=np.float64)
        for i, tok in enumerate(uniq):
            h = hashlib.md5(tok.encode()).digest()
            buckets[i] = int.from_bytes(h[:4], "little") % dim
            signs[i] = 1.0 if h[4] & 1 else -1.0
        doc_idx = np.repeat(np.arange(n_docs), lens)
        np.add.at(mat, (doc_idx, buckets[inv]), signs[inv])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return mat / norms[:, None]


def text_hash_embedding(text: str, dim: int = EMBED_DIM) -> list[float]:
    """Feature-hashing bag-of-tokens embedding: each token hashes to a
    signed dimension (md5 → bucket + sign), accumulated and
    L2-normalized. Deterministic, vocabulary-free, and a real public
    technique (the hashing trick) — not a placeholder RNG. Scalar
    convenience wrapper over the batch kernel (single source of
    arithmetic truth)."""
    return text_hash_embeddings_batch([text], dim)[0].tolist()


def _error_payload(message: str, err_type: str, code: str) -> dict:
    """Reference error envelope (lib.rs ErrorResponse/ErrorDetail:
    ``{"error": {"message", "type", "code"}}`` — ``error_type`` is
    serde-renamed to ``type``)."""
    return {"error": {"message": message, "type": err_type,
                      "code": code}}


def _chunk_chars(text: str, size: int = PDF_CHUNK_SIZE,
                 overlap_ratio: float = PDF_OVERLAP_RATIO) -> list[str]:
    """Character chunking with overlap — the serving-side twin of the
    P1 Catalyst plan (``docops.chunk_text``), at the reference's
    TextEmbedConfig defaults."""
    step = max(1, int(size * (1.0 - overlap_ratio)))
    return [text[s:s + size] for s in range(0, max(1, len(text)), step)
            if text[s:s + size]] or [""]


def _pdf_items(named_blobs: list[tuple[str, bytes]]) -> list[dict]:
    """Decode each PDF with the real stdlib kernel, chunk, and embed —
    one item per chunk with a running global index, matching
    ``embed_files_batch`` → ``pdf_embedding_response``
    (lib.rs:115-141: object/index/embedding/metadata/text)."""
    from embedanything_spark.mediacodecs import pdf_to_text
    items: list[dict] = []
    for name, blob in named_blobs:
        text = pdf_to_text(blob)
        for chunk in _chunk_chars(text):
            items.append({
                "object": "embedding",
                "index": len(items),
                "embedding": text_hash_embedding(chunk),
                "metadata": {"file_name": name},
                "text": chunk,
            })
    return items


def _decode_base64_image(b64: str) -> bytes:
    """Base64 (optionally ``data:image/...;base64,`` prefixed) →
    bytes, mirroring ``decode_base64_to_temp_file`` (lib.rs:660-710).
    Raises ValueError on malformed input."""
    if b64.startswith("data:"):
        if "," not in b64:
            raise ValueError("Invalid data URL format")
        b64 = b64.split(",", 1)[1]
    try:
        return base64.b64decode(b64.strip(), validate=True)
    except (binascii.Error, ValueError) as e:
        raise ValueError(f"Failed to decode base64: {e}") from e


def _image_items(blobs: list[bytes]) -> list[dict]:
    """Embed each image: real PNG decode + block-luminance kernel,
    per-item stub degradation for formats the narrow kernel can't
    handle (same seam as ``multimodal._decode_asset``). Response items
    match ImageEmbeddingData (lib.rs:107-113: metadata is a
    string→string map)."""
    from embedanything_spark.operators.multimodal import _decode_asset
    items = []
    for i, blob in enumerate(blobs):
        w, h, _, vec, real, _why = _decode_asset(blob)
        items.append({
            "object": "embedding",
            "index": i,
            "embedding": [float(x) for x in vec],
            "metadata": {"width": str(w), "height": str(h),
                         "decoded_for_real": str(real).lower()},
        })
    return items


def _parse_multipart(content_type: str,
                     body: bytes) -> list[tuple[str, str | None, str,
                                                bytes]]:
    """Parse multipart/form-data with the stdlib ``email`` package:
    returns (field_name, filename, content_type, payload) per part.
    Raises ValueError if the body is not multipart."""
    msg = BytesParser(policy=_EMAIL_POLICY).parsebytes(
        b"Content-Type: " + content_type.encode("latin-1")
        + b"\r\nMIME-Version: 1.0\r\n\r\n" + body)
    if not msg.is_multipart():
        raise ValueError("request body is not multipart/form-data")
    out = []
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition",
                              failobj="")
        payload = part.get_payload(decode=True) or b""
        out.append((name, part.get_filename(),
                    part.get_content_type(), payload))
    return out


def _embeddings_response(model: str, inputs: list[str]) -> dict:
    """OpenAI embeddings response shape (lib.rs:115-141)."""
    data = [{"object": "embedding", "index": i,
             "embedding": text_hash_embedding(text)}
            for i, text in enumerate(inputs)]
    n_tokens = sum(len(tokenize(t)) for t in inputs)
    return {"object": "list", "data": data, "model": model,
            "usage": {"prompt_tokens": n_tokens,
                      "total_tokens": n_tokens}}


class _Handler(BaseHTTPRequestHandler):
    reader = None          # IndexReader, set by make_server
    server_version = "embedanything-spark/0.1"

    def log_message(self, fmt, *args):   # quiet by default
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length", 0))
        return json.loads(self.rfile.read(n) or b"{}")

    def do_GET(self):
        if self.path == "/health":
            meta = dict(self.reader.meta) if self.reader else {}
            cache = self.reader.cache_stats() if self.reader else {}
            self._send(200, {"status": "healthy",
                             "n_docs": meta.get("n_docs"),
                             "avgdl": meta.get("avgdl"), **cache})
        else:
            self._send(404, {"error": f"no route {self.path}"})

    def do_POST(self):
        if self.path == "/v1/pdf_embeddings/upload":
            return self._pdf_upload()
        try:
            req = self._body()
        except json.JSONDecodeError as e:
            return self._send(400, {"error": f"bad json: {e}"})
        if self.path == "/v1/pdf_embeddings":
            return self._pdf_embeddings(req)
        if self.path == "/v1/image_embeddings":
            return self._image_embeddings(req)
        if self.path == "/v1/embeddings":
            inputs = req.get("input", [])
            if isinstance(inputs, str):
                inputs = [inputs]
            if not inputs or not all(isinstance(x, str) for x in inputs):
                return self._send(
                    400, {"error": "input must be a string or "
                                   "non-empty list of strings"})
            return self._send(200, _embeddings_response(
                req.get("model", "hashing-trick-64"), inputs))
        if self.path == "/v1/search":
            if self.reader is None:
                return self._send(503, {"error": "no index configured"})
            import pandas as pd
            # build + validate + search all inside the try: a
            # non-numeric k, or queries rows missing
            # query_id/query_text/k, must surface as a 400 JSON
            # error, never a dropped connection
            try:
                if "queries" in req:
                    q = pd.DataFrame(req["queries"])
                    missing = {"query_id", "query_text",
                               "k"} - set(q.columns)
                    if missing:
                        raise ValueError(
                            "queries rows missing fields: "
                            f"{sorted(missing)}")
                else:
                    q = pd.DataFrame(
                        {"query_id": [0],
                         "query_text": [req.get("query", "")],
                         "k": [int(req.get("k", 10))]})
                out = self.reader.search_local(q)
            except (KeyError, ValueError, TypeError,
                    AttributeError) as e:
                return self._send(400, {"error": str(e)})
            except OSError as e:
                # search_local retries once on a stale handle; if the
                # retry also fails (reader older than two compaction
                # cycles) answer a JSON 503, not a dropped connection
                return self._send(503, {
                    "error": f"index files unavailable ({e}); "
                             "the index may have been compacted — "
                             "retry the request"})
            return self._send(200, {
                "results": out.to_dict(orient="records")})
        return self._send(404, {"error": f"no route {self.path}"})

    # -- reference file-embedding routes (lib.rs:321-413,412-560,712) --

    def _pdf_embeddings(self, req: dict) -> None:
        files = req.get("files", [])
        if not isinstance(files, list) or not files:
            return self._send(400, _error_payload(
                "File list cannot be empty", "invalid_request_error",
                "empty_files"))
        named: list[tuple[str, bytes]] = []
        for f in files:
            if not isinstance(f, str) or \
                    not f.lower().endswith(".pdf"):
                return self._send(400, _error_payload(
                    f"Unsupported file type for '{f}'. Expected a "
                    "PDF.", "invalid_request_error",
                    "invalid_file_type"))
            if not os.path.exists(f):
                return self._send(400, _error_payload(
                    f"File '{f}' does not exist",
                    "invalid_request_error", "file_not_found"))
            if not os.path.isfile(f):
                return self._send(400, _error_payload(
                    f"'{f}' is not a file", "invalid_request_error",
                    "invalid_path"))
            with open(f, "rb") as fh:
                named.append((f, fh.read()))
        return self._send(200, {
            "object": "list", "data": _pdf_items(named),
            "model": req.get("model", "hashing-trick-64")})

    def _pdf_upload(self) -> None:
        ctype = self.headers.get("Content-Type", "")
        if "multipart/form-data" not in ctype:
            return self._send(400, _error_payload(
                "Expected multipart/form-data",
                "invalid_request_error", "invalid_multipart"))
        n = int(self.headers.get("Content-Length", 0))
        try:
            parts = _parse_multipart(ctype, self.rfile.read(n))
        except (ValueError, KeyError) as e:
            return self._send(400, _error_payload(
                f"Invalid multipart payload: {e}",
                "invalid_request_error", "invalid_multipart"))
        model = "hashing-trick-64"
        named: list[tuple[str, bytes]] = []
        for name, filename, part_type, payload in parts:
            if name == "model":
                val = payload.decode("utf-8", "strict").strip() \
                    if payload else ""
                if val:
                    model = val
            elif name == "files":
                is_pdf = (filename or "").lower().endswith(".pdf") \
                    or part_type == "application/pdf"
                if not is_pdf:
                    return self._send(400, _error_payload(
                        "Uploaded file must be a PDF",
                        "invalid_request_error",
                        "invalid_file_type"))
                named.append((filename
                              or f"upload_{len(named)}.pdf", payload))
            # unknown fields are drained and ignored (lib.rs:552-557)
        if not named:
            return self._send(400, _error_payload(
                "File list cannot be empty", "invalid_request_error",
                "empty_files"))
        return self._send(200, {
            "object": "list", "data": _pdf_items(named),
            "model": model})

    def _image_embeddings(self, req: dict) -> None:
        images = req.get("images", [])
        if not isinstance(images, list) or not images:
            return self._send(400, _error_payload(
                "Images cannot be empty", "invalid_request_error",
                "empty_images"))
        blobs: list[bytes] = []
        for i, b64 in enumerate(images):
            try:
                if not isinstance(b64, str):
                    raise ValueError("image must be a base64 string")
                blobs.append(_decode_base64_image(b64))
            except ValueError as e:
                return self._send(400, _error_payload(
                    f"Failed to decode image at index {i}: {e}",
                    "invalid_request_error", "base64_decode_failed"))
        return self._send(200, {
            "object": "list", "data": _image_items(blobs),
            "model": req.get("model", "block-luminance-64")})


def make_server(index_root: str | None, host: str = "127.0.0.1",
                port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) the server; ``port=0`` picks a free port
    (``server.server_address[1]``). ``index_root=None`` serves only
    /health and /v1/embeddings."""
    handler = type("Handler", (_Handler,), {})
    if index_root is not None:
        from embedanything_spark.index.query import IndexReader
        handler.reader = IndexReader(None, index_root)
    return ThreadingHTTPServer((host, port), handler)


def serve(index_root: str | None, host: str = "0.0.0.0",
          port: int = 8080) -> None:
    srv = make_server(index_root, host, port)
    print(f"serving on http://{host}:{srv.server_address[1]} "
          f"(index={index_root})", flush=True)
    srv.serve_forever()
