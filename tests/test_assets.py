from __future__ import annotations

import hashlib
import os

import pytest

from dedup_spark.sources.assets import FIXTURES

# sha256 over the payloads of the first 24 sf0.001 documents, in doc_id
# order: the bytes the decode-meta oracles and fingerprint queries read
PAYLOAD_SHA256 = {
    "png": "ed5ef773b7506eb33068e5efe9677de574efba737dec0b360e5dbbc709e1f22c",
    "jpeg": "17d3aef40cc978e2875d1d7d4cdea399814e17147d17597ce33608d8534a94bf",
    "raw": "efbee7109f572b6a64c13e45a74a9665b47cf50a5709f2f42ff70f87c45044c7",
    "wav": "42e6d412ed9e5fe82418e4e1085433231910075ccc43d934f7dfb01102e562c3",
    "mpeg": "6f597ede99215e900589672d734d08bca07ec92f906349b0eaa531a2eab4e051",
    "y4m": "ca4ef2401092b58b3faa54e677d1135ca7fec0ff6657a7ccecc7f5f292d41034",
    "mkv": "7a8d08d13ceb4da4f39f66f03b4b0bbe1809d08b0728261ca56bb18c6afa539b",
    "container": "d9a6765ad73497d94b1f282c5fc0230e327a2294f2abcfc60cb8fc9796cbb806",
}


@pytest.fixture(scope="module")
def texts():
    import pyarrow.parquet as pq

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    path = f"{base}/sf0.001/documents.parquet"
    if not os.path.exists(path):
        pytest.skip(f"no fixture at {path}")
    docs = pq.read_table(path, columns=["doc_id", "text"]).to_pandas().sort_values("doc_id")
    return [(t or "").encode("utf-8") for t in docs["text"].head(24)]


@pytest.mark.parametrize("name", list(FIXTURES))
def test_fixture_payload_bytes_pinned(texts, name):
    h = hashlib.sha256()
    for raw in texts:
        h.update(FIXTURES[name].payload(raw))
    assert h.hexdigest() == PAYLOAD_SHA256[name]
