"""Connector-layer tests: pagination cursors resume correctly, XML
normalization handles singleton/junk/coercion quirks, binary payloads
expand into deterministic frame rows."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from data_spark.operators.multimodal import sample_frames, wrap_binary
from data_spark.sources import (
    coerce_by_key_pattern,
    ensure_list,
    keyset_pages,
    offset_pages,
    page_number_pages,
    strip_junk_prefix,
    timeline_pages,
    token_pages,
)

DATA = [{"id": i, "v": i * 10} for i in range(95)]


def test_keyset_pages_resume():
    def fetch(cursor):
        last = cursor.get("last_key")
        rows = [r for r in DATA if last is None or r["id"] > last][:40]
        return rows, (rows[-1]["id"] if rows else last)

    pages = list(keyset_pages(fetch))
    assert [len(p) for p, _ in pages] == [40, 40, 15]
    # resume mid-stream from a persisted cursor
    resumed = list(keyset_pages(fetch, cursor=pages[0][1]))
    assert [len(p) for p, _ in resumed] == [40, 15]
    assert resumed[0][0][0]["id"] == 40


def test_page_number_pages_short_page_stops():
    def fetch(page):
        start = (page - 1) * 40
        return DATA[start : start + 40]

    pages = list(page_number_pages(fetch, page_size=40))
    assert [len(p) for p, _ in pages] == [40, 40, 15]
    # count-resume (S16): resume page computed from processed count
    resumed = list(page_number_pages(fetch, page_size=40, start_page=80 // 40 + 1))
    assert [len(p) for p, _ in resumed] == [15]


def test_offset_pages_cap():
    def fetch(offset):
        return DATA[offset : offset + 10]

    pages = list(offset_pages(fetch, step=10, max_offset=30))
    assert [len(p) for p, _ in pages] == [10, 10, 10, 10]  # capped at offset 30


def test_timeline_pages_bidirectional():
    tweets = [{"tid": i} for i in range(100, 130)]

    def fetch(cursor):
        if cursor["direction"] == "backward":
            upper = cursor["min_id"] if cursor["min_id"] is not None else 10**9
            older = [t for t in tweets if t["tid"] < upper]
            return sorted(older, key=lambda t: -t["tid"])[:10]
        newer = [t for t in tweets if t["tid"] > (cursor["max_id"] or 0)]
        return sorted(newer, key=lambda t: t["tid"])[:10]

    pages = list(timeline_pages(fetch, id_of=lambda t: t["tid"]))
    assert [len(p) for p, _ in pages] == [10, 10, 10, 0]  # 0-page = flip marker
    final = pages[-1][1]
    assert final["min_id"] == 100 and final["max_id"] == 129
    assert final["end"] is True  # backward drain completed


def test_token_pages():
    def fetch(token):
        start = int(token or 0)
        rows = DATA[start : start + 50]
        next_token = str(start + 50) if start + 50 < len(DATA) else None
        return rows, next_token

    pages = list(token_pages(fetch))
    assert [len(p) for p, _ in pages] == [50, 45]
    assert pages[-1][1]["after"] is None


def test_xml_normalization():
    assert strip_junk_prefix("junk--<xml>ok</xml>") == "<xml>ok</xml>"
    assert strip_junk_prefix("<xml/>") == "<xml/>"
    assert ensure_list(None) == []
    assert ensure_list({"a": 1}) == [{"a": 1}]
    assert ensure_list([1, 2]) == [1, 2]
    doc = {
        "TotalAmt": "123.45",
        "WeeklyHrs": "40",
        "SignedDt": "2020-11-07",
        "BadAmt": "n/a",
        "nested": [{"GrossAmt": "7"}],
        "Name": "X",
    }
    got = coerce_by_key_pattern(doc)
    assert got["TotalAmt"] == 123.45 and got["WeeklyHrs"] == 40.0
    assert got["SignedDt"] == "2020-11-07"
    assert got["BadAmt"] == "n/a"  # unparseable passes through
    assert got["nested"][0]["GrossAmt"] == 7.0
    assert got["Name"] == "X"


def test_ingest_pages_end_to_end(spark, tmp_path):
    from data_spark.sources.ingest import CursorStore, ingest_pages
    from data_spark.sources.pagination import keyset_pages

    data = [{"id": i, "v": i * 10} for i in range(95)]

    def fetch(cursor):
        last = cursor.get("last_key")
        rows = [r for r in data if last is None or r["id"] > last][:20]
        return rows, (rows[-1]["id"] if rows else last)

    target = str(tmp_path / "ingested")
    store = CursorStore(str(tmp_path / "cursor.json"))
    n = ingest_pages(
        spark,
        keyset_pages(fetch),
        target,
        keys=["id"],
        schema="id long, v long",
        cursor_store=store,
        pages_per_write=2,
    )
    assert n == 95
    got = spark.read.parquet(target)
    assert got.count() == 95
    assert got.select("id").distinct().count() == 95
    assert store.load() == {"last_key": 94}

    # resume from the durable cursor: nothing new → no change
    resumed = ingest_pages(
        spark,
        keyset_pages(fetch, cursor=store.load()),
        target,
        keys=["id"],
        schema="id long, v long",
        cursor_store=store,
    )
    assert resumed == 0
    assert spark.read.parquet(target).count() == 95

    # overlapping refetch (at-least-once fetch) stays idempotent via MERGE
    again = ingest_pages(
        spark,
        keyset_pages(fetch, cursor={"last_key": 80}),
        target,
        keys=["id"],
        schema="id long, v long",
    )
    assert again == 14
    assert spark.read.parquet(target).count() == 95


def test_multimodal_resize_and_frames(spark):
    docs = spark.createDataFrame(
        [(1, b"payload-one", "src0"), (2, b"pp", "src1"), (3, None, "src0")],
        "doc_id long, blob binary, source string",
    )
    media = wrap_binary(docs, "blob", "doc_id", "source", mime="video/fake")
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]

    frames = sample_frames(media).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    # n_frames = 2 + nbytes % 3: "payload-one" (11) → 2+2=4, "pp" (2) → 2+2=4
    assert len(by_id[1]) == 4 and len(by_id[2]) == 4
    assert 3 not in by_id  # null payload → no frames
    idxs = sorted(r["frame_idx"] for r in by_id[1])
    assert idxs == [0, 1, 2, 3]
    assert all(r["frame_ts_ms"] == r["frame_idx"] * 40 for r in frames)
    # frames differ from each other and are a pure function of the payload
    assert len({bytes(r["frame"]) for r in by_id[1]}) == 4
    digest = hashlib.sha256(b"payload-one").digest()
    assert {r["frame_idx"]: bytes(r["frame"]) for r in by_id[1]} == {
        i: hashlib.sha256(digest + bytes([i])).digest() for i in range(4)
    }
