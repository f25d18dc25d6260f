"""Structured Streaming tests: file-source ingest (M3 as AvailableNow) and
watermarked window/session aggregates — each drained via memory sink."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from connapse_spark.streaming import pipeline as sp


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="connapse-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_file_stream_ingests_new_files(spark, tmpdir):
    src = os.path.join(tmpdir, "in")
    os.makedirs(src)
    for i in range(3):
        with open(os.path.join(src, f"doc{i}.txt"), "w") as f:
            f.write(f"hello file {i}")
    out = os.path.join(tmpdir, "out")
    stream = sp.stream_text_files(spark, src)
    assert stream.isStreaming
    sp.run_available_now(stream, os.path.join(tmpdir, "ckpt"), out)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert {r["text"] for r in rows} == {f"hello file {i}" for i in range(3)}

    # second activation picks up ONLY the new file (checkpoint exactly-once)
    with open(os.path.join(src, "doc3.txt"), "w") as f:
        f.write("hello file 3")
    stream2 = sp.stream_text_files(spark, src)
    sp.run_available_now(stream2, os.path.join(tmpdir, "ckpt"), out)
    rows2 = spark.read.parquet(out).collect()
    assert len(rows2) == 4  # total now includes exactly one new row
    assert {r["text"] for r in rows2} == {f"hello file {i}" for i in range(4)}


def _event_stream(spark, tmpdir):
    """Parquet-source stream of synthetic events."""
    src = os.path.join(tmpdir, "events")
    spark.createDataFrame(
        [
            (1, "2026-01-01 10:00:00", 1, "click", 1.0),
            (2, "2026-01-01 10:10:00", 1, "click", 2.0),
            (3, "2026-01-01 11:05:00", 1, "view", 3.0),
            (4, "2026-01-01 10:20:00", 2, "click", 4.0),
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").write.parquet(src)
    schema = "event_id long, user_id long, event_type string, value double, ts timestamp"
    return spark.readStream.schema(schema).parquet(src)


def test_windowed_event_counts_stream(spark, tmpdir):
    stream = sp.windowed_event_counts(_event_stream(spark, tmpdir), window="1 hour")
    sp.run_complete_to_memory(stream, os.path.join(tmpdir, "ckpt-w"), "t_win")
    rows = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_win").collect()
    }
    assert rows[("2026-01-01 10:00:00", "click")] == 3
    assert rows[("2026-01-01 11:00:00", "view")] == 1


def test_sessionized_event_counts_stream(spark, tmpdir):
    stream = sp.sessionized_event_counts(_event_stream(spark, tmpdir), gap="30 minutes")
    sp.run_complete_to_memory(stream, os.path.join(tmpdir, "ckpt-s"), "t_sess")
    rows = spark.sql("SELECT * FROM t_sess").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: events at 10:00/10:10 in one session, 11:05 in another
    assert len(by_user[1]) == 2
    assert sorted(r["n_events"] for r in by_user[1]) == [1, 2]
    assert len(by_user[2]) == 1


def test_streaming_dedup_first_seen_across_activations(spark, tmpdir):
    src = os.path.join(tmpdir, "in")
    os.makedirs(src)
    # a.txt and b.txt share content; c.txt is unique
    for name, body in [("a.txt", "same"), ("b.txt", "same"), ("c.txt", "other")]:
        with open(os.path.join(src, name), "w") as f:
            f.write(body)
    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    dedup = sp.streaming_dedup_first_seen(sp.stream_text_files(spark, src))
    sp.run_available_now(dedup, ckpt, out)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # one per distinct content
    by_hash = {r["content_hash"]: r["id"] for r in rows}
    assert any(v.endswith("a.txt") for v in by_hash.values())  # min-id wins the tie
    assert not any(v.endswith("b.txt") for v in by_hash.values())

    # activation 2: a re-sent duplicate emits NOTHING (state in checkpoint),
    # new content emits exactly once
    for name, body in [("d.txt", "same"), ("e.txt", "brand new")]:
        with open(os.path.join(src, name), "w") as f:
            f.write(body)
    dedup2 = sp.streaming_dedup_first_seen(sp.stream_text_files(spark, src))
    sp.run_available_now(dedup2, ckpt, out)
    rows2 = spark.read.parquet(out).collect()
    assert len(rows2) == 3
    assert sum(1 for r in rows2 if r["id"].endswith("e.txt")) == 1


def test_sliding_event_counts_stream(spark, tmpdir):
    stream = sp.windowed_event_counts(
        _event_stream(spark, tmpdir), window="1 hour", slide="30 minutes"
    )
    sp.run_complete_to_memory(stream, os.path.join(tmpdir, "ckpt-sl"), "t_slide")
    rows = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_slide").collect()
    }
    # all three clicks (10:00, 10:10, 10:20) land in BOTH overlapping
    # windows 09:30-10:30 and 10:00-11:00; the 11:05 view only in later ones
    assert rows[("2026-01-01 09:30:00", "click")] == 3
    assert rows[("2026-01-01 10:00:00", "click")] == 3
    assert rows[("2026-01-01 11:00:00", "view")] == 1
    assert ("2026-01-01 09:00:00", "click") not in rows


def test_streaming_ingest_pipeline_end_to_end(spark, tmpdir):
    """Full ingest loop as one checkpointed stream: two activations — the
    first embeds two distinct docs; the second sees one new doc and one
    re-sent duplicate and spends chunk/embed on ONLY the new one."""
    import os

    from connapse_spark.streaming import pipeline as sp

    src, ckpt, out = (
        os.path.join(tmpdir, "in"),
        os.path.join(tmpdir, "ck"),
        os.path.join(tmpdir, "out"),
    )
    os.makedirs(src)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("alpha " * 60)
    with open(os.path.join(src, "b.txt"), "w") as f:
        f.write("bravo " * 60)

    pipe = sp.streaming_ingest_pipeline(sp.stream_text_files(spark, src))
    sp.run_available_now(pipe, ckpt, out)
    r1 = spark.read.parquet(out)
    docs1 = {r["doc_id"] for r in r1.select("doc_id").distinct().collect()}
    assert len(docs1) == 2
    assert r1.filter(F.col("embedding").isNull()).count() == 0
    n1 = r1.count()
    assert n1 >= 4  # 360 chars / 160 step = 3 chunks per doc

    # activation 2: one new file + one duplicate content under a new path
    with open(os.path.join(src, "c.txt"), "w") as f:
        f.write("charlie " * 60)
    with open(os.path.join(src, "a_copy.txt"), "w") as f:
        f.write("alpha " * 60)  # same content hash as a.txt

    pipe2 = sp.streaming_ingest_pipeline(sp.stream_text_files(spark, src))
    sp.run_available_now(pipe2, ckpt, out)
    r2 = spark.read.parquet(out)
    docs2 = {r["doc_id"] for r in r2.select("doc_id").distinct().collect()}
    assert any("c.txt" in d for d in docs2)
    assert not any("a_copy" in d for d in docs2)  # duplicate never re-embedded
    assert len(docs2) == 3


def test_streaming_quality_gate_stream_static_join(spark, tmpdir):
    """The gate must run as a REAL stream (stream-static semi-join, no
    watermark, append mode) and agree with its batch binding row-for-row."""
    import json as _json

    good = (
        "the quick brown fox jumps over the lazy dog and then walks back "
        "home with a friend because they were quite tired after the long "
        "day so they rested under a tall green tree near the old stone "
        "bridge while the evening sun was slowly setting over the valley"
    )
    rows = [
        (1, good),
        (2, "spam spam spam " * 10),          # fails quality gate
        (3, good + " benchmark answer key"),  # contaminated below
    ]
    src = os.path.join(tmpdir, "docs")
    os.makedirs(src)
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    from connapse_spark.operators.dedup import shingles_expr

    batch_docs = spark.read.parquet(src)
    blocklist = spark.createDataFrame(
        [("benchmark answer key",)], "s string"
    )
    expected = {
        r["doc_id"]: r
        for r in sp.streaming_quality_gate(batch_docs, blocklist).collect()
    }
    assert expected[1]["admit"]
    assert not expected[2]["gate_keep"]
    assert expected[3]["contaminated"] and not expected[3]["admit"]

    stream_docs = spark.readStream.schema("doc_id long, text string").parquet(src)
    gated = sp.streaming_quality_gate(stream_docs, blocklist)
    assert gated.isStreaming
    out = os.path.join(tmpdir, "gate-out")
    sp.run_available_now(gated, os.path.join(tmpdir, "gate-ckpt"), out)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == set(expected)
    for k in got:
        assert got[k].asDict() == expected[k].asDict(), k


def test_stream_stream_interval_join_attribution(spark, tmpdir):
    """Watermarked stream-STREAM interval join: purchases matched to the
    same user's views within the window, parity with the batch binding."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    views = [
        (1, 101, t0),
        (1, 102, t0 + timedelta(minutes=30)),
        (2, 201, t0),
        (3, 301, t0 + timedelta(hours=5)),  # too old for purchase at +7h
    ]
    purchases = [
        (1, 901, t0 + timedelta(minutes=45)),   # matches views 101? (45m>? within 1h) and 102
        (2, 902, t0 + timedelta(hours=3)),      # view 201 too old
        (3, 903, t0 + timedelta(hours=7)),      # view 301 outside 1h gap
    ]
    vdir, pdir = os.path.join(tmpdir, "v"), os.path.join(tmpdir, "p")
    spark.createDataFrame(views, "user_id long, event_id long, ts timestamp").write.parquet(vdir)
    spark.createDataFrame(purchases, "user_id long, event_id long, ts timestamp").write.parquet(pdir)

    # batch binding
    bv = spark.read.parquet(vdir)
    bp = spark.read.parquet(pdir)
    batch = sp.streaming_view_purchase_attribution(bv, bp, max_gap="1 hour")
    expected = sorted((r["purchase_id"], r["view_id"]) for r in batch.collect())
    assert expected == [(901, 101), (901, 102)]

    # stream binding
    sv = spark.readStream.schema("user_id long, event_id long, ts timestamp").parquet(vdir)
    spc = spark.readStream.schema("user_id long, event_id long, ts timestamp").parquet(pdir)
    joined = sp.streaming_view_purchase_attribution(sv, spc, max_gap="1 hour")
    assert joined.isStreaming
    out = os.path.join(tmpdir, "attr-out")
    sp.run_available_now(joined, os.path.join(tmpdir, "attr-ckpt"), out)
    got = sorted((r["purchase_id"], r["view_id"]) for r in spark.read.parquet(out).collect())
    assert got == expected


def test_stream_warc_files_two_activations(spark, tmpdir):
    from connapse_spark.sources import warc

    src = os.path.join(tmpdir, "crawl")
    os.makedirs(src)

    def _archive(name, pages):
        recs = [
            warc.make_warc_record(
                "response",
                warc.make_http_response(200, html.encode()),
                target_uri=url,
            )
            for url, html in pages
        ]
        with open(os.path.join(src, name), "wb") as f:
            f.write(warc.make_warc(recs, gzip_members=True))

    _archive("seg-0.warc.gz", [
        ("https://a/1", "<title>A1</title><nav>x</nav><p>alpha</p>"),
        ("https://a/2", "<p>beta  gamma</p>"),
    ])
    out = os.path.join(tmpdir, "docs")
    ckpt = os.path.join(tmpdir, "ckpt-warc")
    sp.run_available_now(sp.stream_warc_files(spark, src), ckpt, out)
    rows = {r.url: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"https://a/1", "https://a/2"}
    assert rows["https://a/1"].title == "A1" and rows["https://a/1"].text == "alpha"
    assert rows["https://a/2"].text == "beta gamma"

    # activation 2: only the NEW archive's records land (exactly-once)
    _archive("seg-1.warc.gz", [("https://b/1", "<p>delta</p>")])
    sp.run_available_now(sp.stream_warc_files(spark, src), ckpt, out)
    rows2 = spark.read.parquet(out).collect()
    assert len(rows2) == 3
    assert sum(1 for r in rows2 if r.url == "https://a/1") == 1
    assert any(r.url == "https://b/1" and r.text == "delta" for r in rows2)


def test_streaming_web_ingest_to_snapshot_table(spark, tmpdir):
    from connapse_spark.sources import snapshots, warc

    src = os.path.join(tmpdir, "crawl-drop")
    os.makedirs(src)

    def _archive(name, pages):
        recs = [
            warc.make_warc_record(
                "response", warc.make_http_response(200, html.encode()),
                target_uri=url,
            )
            for url, html in pages
        ]
        with open(os.path.join(src, name), "wb") as f:
            f.write(warc.make_warc(recs, gzip_members=True))

    table = os.path.join(tmpdir, "webdocs")
    ckpt = os.path.join(tmpdir, "ckpt-web-ingest")

    # drop 1: two pages, one url fetched twice (later record wins)
    _archive("seg-0.warc.gz", [
        ("https://a/1", "<title>old</title><p>v1</p>"),
        ("https://a/1", "<title>new</title><p>v2</p>"),
        ("https://a/2", "<p>two</p>"),
    ])
    sp.streaming_web_ingest(spark, src, table, ckpt)
    rows = {r.url: r for r in snapshots.read_snapshot(spark, table).collect()}
    assert set(rows) == {"https://a/1", "https://a/2"}
    assert rows["https://a/1"].title == "new" and rows["https://a/1"].text == "v2"
    v1 = snapshots.latest_version(table)

    # drop 2: update one url, add another — merge, not rewrite
    _archive("seg-1.warc.gz", [
        ("https://a/2", "<p>two-updated</p>"),
        ("https://a/3", "<p>three</p>"),
    ])
    sp.streaming_web_ingest(spark, src, table, ckpt)
    rows2 = {r.url: r.text for r in snapshots.read_snapshot(spark, table).collect()}
    assert rows2 == {"https://a/1": "v2", "https://a/2": "two-updated",
                     "https://a/3": "three"}
    # the previous version is still time-travel readable (one version/batch)
    old = {r.url: r.text for r in snapshots.read_snapshot(spark, table, version=v1).collect()}
    assert old["https://a/2"] == "two"
    # re-activation with nothing new commits nothing
    v2 = snapshots.latest_version(table)
    sp.streaming_web_ingest(spark, src, table, ckpt)
    assert snapshots.latest_version(table) == v2


def test_streaming_frontier_maintenance_two_activations(spark, tmpdir):
    """The crawl loop's ledger stream: activation 1 seeds the ledger;
    activation 2's batch overlaps it (including a tracking-param variant
    of a seen URL) and only the genuinely-new canonical keys land, in
    their own batch_id — the fetch queue of that wave. A third activation
    with nothing new commits nothing."""
    from connapse_spark.sources import snapshots

    src = os.path.join(tmpdir, "discovered")
    ledger = os.path.join(tmpdir, "ledger")
    ckpt = os.path.join(tmpdir, "ckpt-frontier")

    def _drop(urls):
        spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
            1
        ).write.mode("append").parquet(src)

    _drop(["https://ex.com/a", "https://ex.com/b?utm_source=x"])
    sp.streaming_frontier_maintenance(spark, src, ledger, ckpt)
    rows1 = snapshots.read_snapshot(spark, ledger).collect()
    assert {r.canonical_url for r in rows1} == {
        "https://ex.com/a", "https://ex.com/b",
    }
    b0 = {r.batch_id for r in rows1}
    assert len(b0) == 1

    # drop 2: one variant of a SEEN url, one new url
    _drop(["https://ex.com/a?fbclid=zz", "https://ex.com/c"])
    sp.streaming_frontier_maintenance(spark, src, ledger, ckpt)
    rows2 = snapshots.read_snapshot(spark, ledger).collect()
    assert {r.canonical_url for r in rows2} == {
        "https://ex.com/a", "https://ex.com/b", "https://ex.com/c",
    }
    new_batch = {r.batch_id for r in rows2} - b0
    assert len(new_batch) == 1
    queue = sp.frontier_batch(spark, ledger, new_batch.pop()).collect()
    assert [r.canonical_url for r in queue] == ["https://ex.com/c"]

    # idle activation: no new version
    v = snapshots.latest_version(ledger)
    sp.streaming_frontier_maintenance(spark, src, ledger, ckpt)
    assert snapshots.latest_version(ledger) == v


def test_lww_latest_doc_event_cut(spark):
    """The streaming front's per-batch cut to one event per doc: the
    seq-latest event wins, a later delete beats an earlier update (and a
    later update an earlier delete), NULL seqs lose to any seq, and a
    seq tie breaks the same way whatever order a replay delivers the
    rows in."""
    rows = [
        (1, "alpha beta", "U", 10),
        (1, "gamma delta", "U", 20),  # doc 1: the seq-latest text survives
        (2, "old words", "U", 10),
        (2, None, "D", 20),  # doc 2: the later delete wins
        (3, None, "D", 5),
        (3, "back again", "U", 6),  # doc 3: the later update wins
        (4, "with seq", "U", 1),
        (4, "no seq", "U", None),  # doc 4: a NULL seq sorts last
        (5, "tie one", "U", 7),
        (5, None, "D", 7),
        (5, "tie two", "U", 7),  # doc 5: a seq tie
    ]
    schema = "doc_id long, text string, op string, seq long"

    def cut(rs):
        out = sp._lww_latest_doc_event(spark.createDataFrame(rs, schema))
        return {r["doc_id"]: (r["op"], r["text"]) for r in out.collect()}

    got = cut(rows)
    assert got[1] == ("U", "gamma delta")
    assert got[2] == ("D", None)
    assert got[3] == ("U", "back again")
    assert got[4] == ("U", "with seq")
    assert len(got) == 5
    # replays converge: reversed and shuffled deliveries cut identically
    assert cut(rows[::-1]) == got
    assert cut(rows[3:] + rows[:3]) == got
    assert got[5][0] == "U"  # on a true tie an update outranks a delete
