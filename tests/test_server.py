"""HTTP serving tier: /health, /v1/embeddings (OpenAI shape),
/v1/search parity with IndexReader.search_local — and the no-Spark
contract (IndexReader(None, root) serves without a session)."""

import json
import threading
import urllib.request

import numpy as np
import pandas as pd
import pytest

from embedanything_spark.index.build import IndexWriter
from embedanything_spark.index.query import IndexReader
from embedanything_spark.server import make_server, text_hash_embedding


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, transcripts_df):
    root = tmp_path_factory.mktemp("srv_idx")
    IndexWriter(str(root), block_range=256, num_partitions=4) \
        .build(transcripts_df)
    return str(root)


@pytest.fixture(scope="module")
def server(index_dir):
    srv = make_server(index_dir, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, json.loads(r.read())


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health(server):
    code, body = _get(f"{server}/health")
    assert code == 200
    assert body["status"] == "healthy"
    assert body["n_docs"] > 0
    # the reader's row-group cache counters ride along
    for key in ("row_group_fills", "row_group_hits", "row_group_bytes",
                "row_group_max_bytes"):
        assert isinstance(body[key], int) and body[key] >= 0
    assert body["row_group_bytes"] <= body["row_group_max_bytes"]
    code, _ = _post(f"{server}/v1/search", {"query": "term00000", "k": 3})
    assert code == 200
    _, after = _get(f"{server}/health")
    assert after["row_group_fills"] > 0
    assert (after["row_group_fills"] + after["row_group_hits"]
            > body["row_group_fills"] + body["row_group_hits"])


def test_embeddings_openai_shape(server):
    code, body = _post(f"{server}/v1/embeddings",
                       {"model": "m", "input": ["hello world", "x"]})
    assert code == 200
    assert body["object"] == "list" and body["model"] == "m"
    assert [d["index"] for d in body["data"]] == [0, 1]
    vec = np.array(body["data"][0]["embedding"])
    assert vec.shape == (64,)
    assert abs(np.linalg.norm(vec) - 1.0) < 1e-9
    assert body["data"][0]["embedding"] == text_hash_embedding(
        "hello world")
    assert body["usage"]["prompt_tokens"] == 3
    # string input accepted like the reference's enum input
    code, one = _post(f"{server}/v1/embeddings", {"input": "hello"})
    assert code == 200 and len(one["data"]) == 1


def test_embeddings_rejects_bad_input(server):
    code, body = _post(f"{server}/v1/embeddings", {"input": []})
    assert code == 400 and "error" in body
    code, body = _post(f"{server}/v1/embeddings", {"input": [1, 2]})
    assert code == 400


def test_search_parity_with_search_local(server, index_dir,
                                         queries_pdf):
    reader = IndexReader(None, index_dir)   # no-Spark serving reader
    want = reader.search_local(queries_pdf.head(3))
    code, body = _post(f"{server}/v1/search", {
        "queries": queries_pdf.head(3).to_dict(orient="records")})
    assert code == 200
    got = pd.DataFrame(body["results"])
    pd.testing.assert_frame_equal(
        got[want.columns], want, check_dtype=False)


def test_search_single_query_form(server):
    code, body = _post(f"{server}/v1/search",
                       {"query": "term00001", "k": 3})
    assert code == 200
    ranks = [r["rank"] for r in body["results"]]
    assert ranks == sorted(ranks) and len(ranks) <= 3


def test_search_empty_query(server):
    code, body = _post(f"{server}/v1/search", {"query": "", "k": 3})
    assert code == 200 and body["results"] == []


def test_unknown_route_404(server):
    code, body = _post(f"{server}/v1/nope", {})
    assert code == 404


def test_pdf_embeddings_real_pdf(server, tmp_path):
    """POST /v1/pdf_embeddings with a real make_pdf file: per-chunk
    items carry text + metadata + a unit-norm embedding
    (lib.rs:321-413 + pdf_embedding_response:115-141)."""
    from embedanything_spark.mediacodecs import make_pdf
    p = tmp_path / "doc.pdf"
    p.write_bytes(make_pdf(["alpha bravo charlie", "delta echo"]))
    code, body = _post(f"{server}/v1/pdf_embeddings",
                       {"model": "m", "files": [str(p)]})
    assert code == 200
    assert body["object"] == "list" and body["model"] == "m"
    assert [d["index"] for d in body["data"]] == \
        list(range(len(body["data"])))
    item = body["data"][0]
    assert item["object"] == "embedding"
    assert "alpha bravo charlie" in item["text"]
    assert item["metadata"]["file_name"] == str(p)
    vec = np.array(item["embedding"])
    assert vec.shape == (64,) and abs(np.linalg.norm(vec) - 1) < 1e-9
    assert item["embedding"] == text_hash_embedding(item["text"])


def test_pdf_embeddings_validation_errors(server, tmp_path):
    """Reference error contract: empty_files / invalid_file_type /
    file_not_found / invalid_path codes in the
    {"error": {"message","type","code"}} envelope."""
    cases = [
        ({"files": []}, "empty_files"),
        ({"files": ["/etc/hostname"]}, "invalid_file_type"),
        ({"files": [str(tmp_path / "nope.pdf")]}, "file_not_found"),
        ({"files": [str(tmp_path)[:-1] + "/"]}, "invalid_file_type"),
    ]
    for payload, want in cases:
        code, body = _post(f"{server}/v1/pdf_embeddings", payload)
        assert code == 400, payload
        assert body["error"]["code"] == want
        assert body["error"]["type"] == "invalid_request_error"
    d = tmp_path / "adir.pdf"
    d.mkdir()
    code, body = _post(f"{server}/v1/pdf_embeddings",
                       {"files": [str(d)]})
    assert code == 400 and body["error"]["code"] == "invalid_path"


def test_pdf_embeddings_upload_multipart(server):
    """POST /v1/pdf_embeddings/upload: multipart model + files parts
    (lib.rs:412-560) → same chunked-embedding response."""
    from embedanything_spark.mediacodecs import make_pdf
    pdf = make_pdf(["upload payload text"])
    boundary = "x-test-boundary"
    body = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="model"\r\n\r\n'
        "my-model\r\n"
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="files"; '
        'filename="up.pdf"\r\n'
        "Content-Type: application/pdf\r\n\r\n"
    ).encode() + pdf + f"\r\n--{boundary}--\r\n".encode()
    req = urllib.request.Request(
        f"{server}/v1/pdf_embeddings/upload", data=body,
        headers={"Content-Type":
                 f"multipart/form-data; boundary={boundary}"},
        method="POST")
    with urllib.request.urlopen(req, timeout=60) as r:
        code, out = r.status, json.loads(r.read())
    assert code == 200 and out["model"] == "my-model"
    assert "upload payload text" in out["data"][0]["text"]
    assert out["data"][0]["metadata"]["file_name"] == "up.pdf"
    # non-PDF upload refused with the reference's code
    bad = (f"--{boundary}\r\n"
           'Content-Disposition: form-data; name="files"; '
           'filename="x.txt"\r\n\r\nhello\r\n'
           f"--{boundary}--\r\n").encode()
    req = urllib.request.Request(
        f"{server}/v1/pdf_embeddings/upload", data=bad,
        headers={"Content-Type":
                 f"multipart/form-data; boundary={boundary}"},
        method="POST")
    try:
        urllib.request.urlopen(req, timeout=30)
        assert False, "expected 400"
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert json.loads(e.read())["error"]["code"] == \
            "invalid_file_type"


def test_image_embeddings_real_png(server):
    """POST /v1/image_embeddings with a real PNG (base64 and data-URL
    forms): real decode path, correct dims in metadata, embedding
    matches the block-luminance kernel (lib.rs:712-760 shape)."""
    import base64
    from embedanything_spark.mediacodecs import encode_png
    from embedanything_spark.operators.multimodal import (
        _image_block_embedding)
    img = (np.arange(24 * 16, dtype=np.uint8).reshape(16, 24) % 251)
    png = encode_png(img)
    b64 = base64.b64encode(png).decode()
    for payload_img in (b64, "data:image/png;base64," + b64):
        code, body = _post(f"{server}/v1/image_embeddings",
                           {"model": "clip-ish",
                            "images": [payload_img]})
        assert code == 200 and body["object"] == "list"
        item = body["data"][0]
        assert item["metadata"] == {"width": "24", "height": "16",
                                    "decoded_for_real": "true"}
        want = _image_block_embedding(img)
        assert np.allclose(item["embedding"], want, atol=1e-6)


def test_image_embeddings_errors_and_stub(server):
    code, body = _post(f"{server}/v1/image_embeddings",
                       {"images": []})
    assert code == 400 and body["error"]["code"] == "empty_images"
    code, body = _post(f"{server}/v1/image_embeddings",
                       {"images": ["!!!not-base64!!!"]})
    assert code == 400
    assert body["error"]["code"] == "base64_decode_failed"
    assert "index 0" in body["error"]["message"]
    # valid base64 of a non-PNG blob → deterministic stub fallback,
    # flagged in metadata (the documented neural-kernel seam)
    import base64
    code, body = _post(f"{server}/v1/image_embeddings",
                       {"images": [base64.b64encode(
                           b"\xff\xd8\xff jpeg-ish").decode()]})
    assert code == 200
    assert body["data"][0]["metadata"]["decoded_for_real"] == "false"
    assert abs(np.linalg.norm(body["data"][0]["embedding"]) - 1) < 1e-5


def test_search_malformed_payloads_400(server):
    """Malformed /v1/search bodies return a JSON 400 — never a
    dropped connection: non-numeric k, and queries rows lacking the
    required fields."""
    code, body = _post(f"{server}/v1/search",
                       {"query": "term00001", "k": "lots"})
    assert code == 400 and "error" in body
    code, body = _post(f"{server}/v1/search",
                       {"queries": [{"q": "missing fields"}]})
    assert code == 400 and "error" in body
    code, body = _post(f"{server}/v1/search",
                       {"queries": "not-a-list"})
    assert code == 400 and "error" in body
