"""Digest-based revisit deduplication (operators/revisit.py): WARC 1.0
identical-payload-digest semantics — non-first captures of a payload
become slim revisit records referencing the first capture, and the
result still round-trips byte-exactly through the engine's own sink and
reader."""

import io
import os
from contextlib import redirect_stdout

import pytest

from warc_spark.kernels.gzipmember import compress_records_as_members
from warc_spark.kernels.warcrec import make_record
from warc_spark.operators.revisit import REVISIT_PROFILE, revisit_dedup
from warc_spark.sources import read_warc, write_warc


def _payload(k: int) -> bytes:
    """4 KB of deterministic incompressible bytes per content id (so the
    gzipped fixture actually shrinks when deduped)."""
    import hashlib

    out, h = [], b"seed-%d" % k
    for _ in range(128):
        h = hashlib.sha256(h).digest()
        out.append(h)
    return b"".join(out)


@pytest.fixture(scope="module")
def dup_warc(tmp_path_factory):
    """12 response records over 4 distinct payloads (i % 4), dates
    strictly increasing with i — capture i<4 is the first of its
    digest."""
    d = tmp_path_factory.mktemp("revisit")
    records = [
        make_record(
            payload=_payload(i % 4),
            warc_type="response",
            headers=[("WARC-Target-URI", "http://dup.example/%d" % i)],
            record_id="00000000-0000-0000-0000-%012d" % i,
            date="2026-08-01T00:00:%02dZ" % i,
        ).to_bytes()
        for i in range(12)
    ]
    path = str(d / "dups.warc.gz")
    with open(path, "wb") as f:
        f.write(compress_records_as_members(records))
    return path


def test_first_capture_kept_rest_rewritten(spark, dup_warc):
    out = revisit_dedup(read_warc(spark, dup_warc)).collect()
    by_id = {r.record_id: r for r in out}
    by_i = {int(r.target_uri.rsplit("/", 1)[1]): r for r in out}
    assert len(by_id) == 12
    for r in out:
        i = int(r.target_uri.rsplit("/", 1)[1])
        first_id = by_i[i % 4].record_id
        if i < 4:
            assert not r.is_revisit and r.warc_type == "response"
            assert r.payload == _payload(i % 4)
        else:
            assert r.is_revisit and r.warc_type == "revisit"
            assert r.payload == b"" and r.content_length == 0
            h = r.headers
            assert h["warc-type"] == "revisit"
            assert h["warc-profile"] == REVISIT_PROFILE
            assert h["warc-refers-to"] == first_id
            assert h["warc-refers-to-target-uri"] == "http://dup.example/%d" % (
                i % 4
            )
            assert h["warc-refers-to-date"] == "2026-08-01T00:00:%02dZ" % (i % 4)
            assert h["content-length"] == "0"
            # digest of the ORIGINAL payload is retained for matching
            assert h["warc-payload-digest"].startswith("sha1:")
            assert h["warc-payload-digest"] == by_id[first_id].payload_digest
            # header_names drive the serializer: every map key is named
            assert {n.lower() for n in r.header_names} == set(h.keys())


def test_deterministic_at_any_parallelism(spark, dup_warc):
    df = read_warc(spark, dup_warc)
    a = {
        r.record_id: (r.warc_type, r.headers.get("warc-refers-to"))
        for r in revisit_dedup(df.repartition(7)).collect()
    }
    b = {
        r.record_id: (r.warc_type, r.headers.get("warc-refers-to"))
        for r in revisit_dedup(df.coalesce(1)).collect()
    }
    assert a == b


def test_roundtrip_through_sink_and_reader(spark, dup_warc, tmp_path):
    df = read_warc(spark, dup_warc)
    out = str(tmp_path / "deduped")
    manifest = write_warc(revisit_dedup(df), out, compress=True).collect()
    assert sum(m.records for m in manifest) == 12
    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    rows = back.collect()
    assert sum(r.warc_type == "revisit" for r in rows) == 8
    assert sum(r.warc_type == "response" for r in rows) == 4
    # revisits reconstruct: join back to the referred capture's payload
    by_id = {r.record_id: r for r in rows}
    for r in rows:
        if r.warc_type == "revisit":
            ref = by_id[r.headers["warc-refers-to"]]
            assert ref.payload_digest == r.headers["warc-payload-digest"]
    # the deduped archive is materially smaller than the original
    orig = os.path.getsize(dup_warc)
    deduped = sum(m.bytes for m in manifest)
    assert deduped < orig


def test_payload_never_shuffles_by_digest(spark, dup_warc):
    """The digest window sees only the slim projection: no Exchange that
    partitions by the digest carries the payload column."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        revisit_dedup(read_warc(spark, dup_warc)).explain("formatted")
    plan = buf.getvalue()
    blocks, cur = [], []
    for ln in plan.splitlines():
        if ") Exchange" in ln or ln.startswith("Exchange"):
            if cur:
                blocks.append("\n".join(cur))
            cur = [ln]
        elif cur and ln.strip().startswith(("Input", "Arguments")):
            cur.append(ln)
        elif cur and not ln.strip():
            blocks.append("\n".join(cur))
            cur = []
    if cur:
        blocks.append("\n".join(cur))
    digest_exchanges = [b for b in blocks if "_dg" in b]
    assert digest_exchanges, plan  # the slim window shuffle exists
    for b in digest_exchanges:
        assert "payload" not in b, b
