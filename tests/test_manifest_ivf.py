"""Manifest-protocol IVF index (similarity.write_ivf_index(
protocol="manifest") over manifest_store.append_parts_layer) and the
streaming embedding ingest (streaming/embeddings.py): protocol
answer-equivalence, snapshot-isolated probes under concurrent appends,
atomic replay watermark, end-to-end stream + restart idempotence,
vacuum/compaction safety for partitioned layer lists."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from traceframe_spark.operators import similarity as sim
from traceframe_spark.streaming import manifest_store as MS
from traceframe_spark.streaming.embeddings import (
    read_indexed_vectors,
    stream_embed_ingest,
)

DIM = 8


def _vec(i: int) -> list[float]:
    # deterministic pseudo-random vectors: md5-derived so distinct ids
    # give genuinely uncorrelated directions (an affine i*K+j*L pattern
    # makes some pairs near-collinear — measured cos 0.99990 — which
    # trips the near-dup filter on vectors meant to be fresh; the
    # md5 set's max pairwise cosine over every id used here is 0.933)
    return [
        float(int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:8], 16) % 1999 - 999)
        for j in range(DIM)
    ]


def _vecs(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], f"vec_id long, embedding array<float>"
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return _vecs(spark, range(60))


def test_manifest_protocol_preserves_probe_answers(spark, corpus, tmp_path):
    """Same centroids, both protocols: every probe answer identical —
    the commit protocol changes how lists land, never what they hold."""
    cents = sim.train_ivf_centroids(corpus, "vec_id", "embedding", n_centroids=4)
    side = str(tmp_path / "side")
    mani = str(tmp_path / "mani")
    sim.write_ivf_index(corpus, side, "vec_id", "embedding", centroids=cents)
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", centroids=cents, protocol="manifest"
    )
    q = _vecs(spark, range(5))
    for nprobe in (1, 2, 4):
        a = sorted(
            map(tuple, sim.ivf_topk_over_index(
                spark, side, q, "vec_id", "embedding", k=3, nprobe=nprobe
            ).collect())
        )
        b = sorted(
            map(tuple, sim.ivf_topk_over_index(
                spark, mani, q, "vec_id", "embedding", k=3, nprobe=nprobe
            ).collect())
        )
        assert a == b, nprobe
    # centroids committed atomically with the lists, no sidecar file
    got_c, man = sim._ivf_resolve(spark, mani)
    assert got_c == cents and man is not None
    # list stats agree across protocols
    sa = {r["list_id"]: r["n_vectors"] for r in sim.ivf_list_stats(spark, side).collect()}
    sb = {r["list_id"]: r["n_vectors"] for r in sim.ivf_list_stats(spark, mani).collect()}
    assert sa == sb



def test_dotted_vec_col_names_resolve_like_f_col(spark, corpus, tmp_path):
    """The string fast path names a column exactly as ``F.col`` does:
    ``'payload.vec'`` is a nested field and ``'`a.b`'`` the top-level
    column called ``a.b``. Both assign and index like the same vectors
    in a plain top-level column."""
    cents = sim.train_ivf_centroids(corpus, "vec_id", "embedding", n_centroids=4)
    shaped = corpus.select(
        "vec_id",
        F.struct(F.col("embedding").alias("vec")).alias("payload"),
        F.col("embedding").alias("a.b"),
    )

    def lists(df, name):
        return sorted(
            map(tuple, df.select(
                "vec_id",
                sim.ivf_assign(name, cents).alias("l"),
                sim.ivf_probe_lists(name, cents, 2).alias("p"),
            ).collect())
        )

    want = lists(corpus, "embedding")
    assert lists(shaped, "payload.vec") == want
    assert lists(shaped, "`a.b`") == want

    def stored(path):
        return sorted(map(tuple, spark.read.parquet(path).select("cid", "list_id").collect()))

    flat, deep = str(tmp_path / "flat"), str(tmp_path / "deep")
    sim.write_ivf_index(corpus, flat, "vec_id", "embedding", centroids=cents)
    sim.write_ivf_index(shaped, deep, "vec_id", "payload.vec", centroids=cents)
    assert stored(deep) == stored(flat)

def test_manifest_append_accumulates_and_probe_snapshot_survives(
    spark, corpus, tmp_path
):
    mani = str(tmp_path / "mani_app")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    before = read_indexed_vectors(spark, mani).count()
    # build a LAZY probe plan against the current snapshot
    q = _vecs(spark, [1000])
    plan = sim.ivf_topk_over_index(
        spark, mani, q, "vec_id", "embedding", k=60, nprobe=4
    )
    # concurrent append lands AFTER the plan resolved its manifest
    sim.append_to_ivf_index(_vecs(spark, range(200, 230)), mani, "vec_id", "embedding")
    assert read_indexed_vectors(spark, mani).count() == before + 30
    # the lazy plan still answers from its resolved snapshot: none of
    # the appended ids appear (immutable commit dirs)
    got_ids = {r["cid"] for r in plan.collect()}
    assert got_ids and all(i < 200 for i in got_ids)
    # a fresh probe sees the appended vectors
    fresh = sim.ivf_topk_over_index(
        spark, mani, q, "vec_id", "embedding", k=200, nprobe=4
    )
    assert any(r["cid"] >= 200 for r in fresh.collect())


def test_append_watermark_commits_atomically(spark, corpus, tmp_path):
    mani = str(tmp_path / "mani_wm")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    ckpt = str(tmp_path / "wm_ckpt")
    assert MS.manifest_last_batch(spark, mani, ckpt) is None
    sim.append_to_ivf_index(
        _vecs(spark, range(300, 310)), mani, "vec_id", "embedding",
        checkpoint=ckpt, batch_id=0,
    )
    assert MS.manifest_last_batch(spark, mani, ckpt) == 0
    # a watermark on the sidecar protocol is refused loudly
    side = str(tmp_path / "side_wm")
    sim.write_ivf_index(corpus, side, "vec_id", "embedding", n_centroids=4)
    with pytest.raises(ValueError, match="manifest-protocol"):
        sim.append_to_ivf_index(
            _vecs(spark, range(310, 312)), side, "vec_id", "embedding",
            checkpoint=ckpt, batch_id=1,
        )


def _feed(tmp_path, name, batches):
    feed = tmp_path / name
    feed.mkdir()
    for i, ids in enumerate(batches):
        with open(feed / f"b{i}.jsonl", "w") as f:
            for vid in ids:
                f.write(json.dumps({"vec_id": vid, "embedding": _vec(vid)}) + "\n")
    return str(feed)


def _run_embed_stream(spark, feed, idx, ckpt, **kw):
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    q = stream_embed_ingest(stream, idx, ckpt, trigger_available_now=True, **kw)
    q.awaitTermination()


def test_stream_embed_ingest_end_to_end_and_restart(spark, corpus, tmp_path):
    """Exact-content dup within a batch collapses to min id; a vector
    re-sent in a later batch with near_threshold dies against the
    standing index (cosine 1.0); restart on the same checkpoint changes
    NOTHING (exact row counts — duplicates structurally impossible)."""
    mani = str(tmp_path / "mani_stream")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    # batch 0: 400 fresh, 401 same CONTENT as 400 (different id);
    # batch 1: 500 with the same content as 400 again (cross-batch), 501 fresh
    feed_dir = tmp_path / "efeed"
    feed_dir.mkdir()
    with open(feed_dir / "b0.jsonl", "w") as f:
        f.write(json.dumps({"vec_id": 400, "embedding": _vec(400)}) + "\n")
        f.write(json.dumps({"vec_id": 401, "embedding": _vec(400)}) + "\n")
    with open(feed_dir / "b1.jsonl", "w") as f:
        f.write(json.dumps({"vec_id": 500, "embedding": _vec(400)}) + "\n")
        f.write(json.dumps({"vec_id": 501, "embedding": _vec(501)}) + "\n")
    ckpt = str(tmp_path / "e_ckpt")
    _run_embed_stream(
        spark, str(feed_dir), mani, ckpt, near_threshold=0.9999, nprobe=4
    )
    landed = {
        r["cid"] for r in read_indexed_vectors(spark, mani).collect() if r["cid"] >= 400
    }
    assert landed == {400, 501}  # 401 in-batch exact; 500 cross-batch near
    total = read_indexed_vectors(spark, mani).count()
    # restart on the same checkpoint: idempotent, exact counts
    _run_embed_stream(
        spark, str(feed_dir), mani, ckpt, near_threshold=0.9999, nprobe=4
    )
    assert read_indexed_vectors(spark, mani).count() == total
    # a non-manifest index is refused at stream start
    side = str(tmp_path / "side_stream")
    sim.write_ivf_index(corpus, side, "vec_id", "embedding", n_centroids=4)
    with pytest.raises(ValueError, match="manifest-protocol"):
        _run_embed_stream(spark, str(feed_dir), side, str(tmp_path / "bad_ckpt"))


def test_vacuum_and_compaction_keep_partitioned_layers_live(
    spark, corpus, tmp_path
):
    """Vacuum must treat every listed list directory as live data, and
    compaction must reset each list to one directory without changing
    a single row."""
    mani = str(tmp_path / "mani_vac")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    sim.append_to_ivf_index(_vecs(spark, range(600, 620)), mani, "vec_id", "embedding")
    sim.append_to_ivf_index(_vecs(spark, range(620, 640)), mani, "vec_id", "embedding")
    want = sorted(
        (r["cid"], r["list_id"]) for r in read_indexed_vectors(spark, mani).collect()
    )
    # vacuum with the tightest grace: all three commits' dirs stay live
    MS.vacuum_manifest_store(spark, mani, keep_manifests=1)
    assert sorted(
        (r["cid"], r["list_id"]) for r in read_indexed_vectors(spark, mani).collect()
    ) == want
    # compaction: every list back to ONE directory, rows identical
    man_before = MS._latest_manifest(spark, mani)
    assert any(len(d) > 1 for d in man_before["layers"].values())
    MS.compact_manifest_layers(spark, mani)
    man_after = MS._latest_manifest(spark, mani)
    assert all(len(d) == 1 for d in man_after["layers"].values())
    assert sorted(
        (r["cid"], r["list_id"]) for r in read_indexed_vectors(spark, mani).collect()
    ) == want
    # vacuum reclaims the superseded pre-compaction directories
    removed = MS.vacuum_manifest_store(spark, mani, keep_manifests=1)
    assert removed >= 1
    assert sorted(
        (r["cid"], r["list_id"]) for r in read_indexed_vectors(spark, mani).collect()
    ) == want


def test_parts_layer_time_travel_pins_pre_append_state(spark, corpus, tmp_path):
    """read_parts_layers(version=n) reads the index exactly as commit n
    left it — an append after the pinned version is invisible, which is
    what makes a training run reproducible against an index that keeps
    ingesting."""
    mani = str(tmp_path / "mani_tt")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    v0 = MS._latest_manifest(spark, mani)["n"]
    want = sorted(r["cid"] for r in MS.read_parts_layers(spark, mani).collect())
    sim.append_to_ivf_index(_vecs(spark, range(700, 720)), mani, "vec_id", "embedding")
    pinned = sorted(
        r["cid"] for r in MS.read_parts_layers(spark, mani, version=v0).collect()
    )
    assert pinned == want  # the append never happened at version v0
    latest = sorted(r["cid"] for r in MS.read_parts_layers(spark, mani).collect())
    assert len(latest) == len(want) + 20


def test_stream_within_batch_near_collapses_burst(spark, corpus, tmp_path):
    """A burst of near-copies OF EACH OTHER in one micro-batch: the
    standing-index probe can't kill them (none are indexed yet); the
    within_batch_near flag collapses the transitive chain to its min-id
    canonical, exactly like the text loop's flag."""
    mani = str(tmp_path / "mani_wbn")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    base = _vec(800)
    feed = tmp_path / "wbn_feed"
    feed.mkdir()
    with open(feed / "b0.jsonl", "w") as f:
        # chain: 800 ~ 801 ~ 802 (tiny perturbations), plus fresh 810
        for vid, eps in ((800, 0.0), (801, 0.01), (802, 0.02)):
            f.write(json.dumps(
                {"vec_id": vid, "embedding": [x + eps for x in base]}
            ) + "\n")
        f.write(json.dumps({"vec_id": 810, "embedding": _vec(810)}) + "\n")

    # control: without the flag, all three near-copies land
    ctrl = str(tmp_path / "mani_wbn_ctrl")
    sim.write_ivf_index(
        corpus, ctrl, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    _run_embed_stream(
        spark, str(feed), ctrl, str(tmp_path / "ckpt_ctrl"),
        near_threshold=0.9999, nprobe=4,
    )
    got_ctrl = {
        r["cid"] for r in read_indexed_vectors(spark, ctrl).collect()
        if r["cid"] >= 800
    }
    assert got_ctrl == {800, 801, 802, 810}

    _run_embed_stream(
        spark, str(feed), mani, str(tmp_path / "ckpt_wbn"),
        near_threshold=0.9999, nprobe=4, within_batch_near=True,
    )
    got = {
        r["cid"] for r in read_indexed_vectors(spark, mani).collect()
        if r["cid"] >= 800
    }
    assert got == {800, 810}  # chain collapsed to min id; fresh landed
    # flag without threshold is refused
    with pytest.raises(ValueError, match="needs near_threshold"):
        _run_embed_stream(
            spark, str(feed), mani, str(tmp_path / "ckpt_bad2"),
            within_batch_near=True,
        )


def test_empty_snapshot_bootstrap_probe_and_stream(spark, corpus, tmp_path):
    """The docstring-blessed bootstrap: an index built from an EMPTY
    snapshot must answer probes with zero candidates (not a read
    error), and a near-filtered stream must start from it and land its
    first batch."""
    empty = _vecs(spark, []).filter(F.lit(False))
    cents = sim.train_ivf_centroids(corpus, "vec_id", "embedding", n_centroids=4)
    mani = str(tmp_path / "mani_empty")
    sim.write_ivf_index(
        empty, mani, "vec_id", "embedding", centroids=cents, protocol="manifest"
    )
    probe = sim.ivf_topk_over_index(
        spark, mani, _vecs(spark, [900]), "vec_id", "embedding", k=3, nprobe=4
    )
    assert probe.count() == 0
    assert sorted(probe.columns) == ["cid", "cos", "qid", "rn"]
    feed = _feed(tmp_path, "empty_feed", [[901, 902]])
    _run_embed_stream(
        spark, feed, mani, str(tmp_path / "ckpt_empty"),
        near_threshold=0.99, nprobe=4,
    )
    assert {r["cid"] for r in read_indexed_vectors(spark, mani).collect()} == {901, 902}


def test_embed_loop_resolves_store_once_per_batch(spark, corpus, tmp_path, monkeypatch):
    """The embed loop's twin of the text loop's resolve-count pin:
    one _latest_manifest on the index path at stream start (centroid
    pin) + one per micro-batch shared by the watermark check, the
    near-dup probe, and the fold."""
    mani = str(tmp_path / "mani_cnt")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    calls = []
    real = MS._latest_manifest

    def counting(spark_, path):
        if path == mani:
            calls.append(path)
        return real(spark_, path)

    monkeypatch.setattr(MS, "_latest_manifest", counting)
    feed = _feed(tmp_path, "cnt_feed", [[950, 951], [960]])
    _run_embed_stream(
        spark, feed, mani, str(tmp_path / "ckpt_cnt"),
        near_threshold=0.9999, nprobe=4,
    )
    # 1 stream-start centroid pin + 2 batches x 1 = 3 (pre-fix: 3/batch)
    assert len(calls) <= 3, f"index manifest resolved {len(calls)} times"
    got = {r["cid"] for r in read_indexed_vectors(spark, mani).collect() if r["cid"] >= 900}
    assert got == {950, 951, 960}


def test_resend_with_original_id_caught_by_near_stage(spark, corpus, tmp_path):
    """A later batch re-sending a row with its ORIGINAL id must not
    double-insert: the ingest probe runs with exclude_self=False, so
    the re-send matches its own standing copy at cosine 1.0 (pre-fix,
    the search-style qid != cid exclusion made exactly this case
    invisible and the row landed twice)."""
    mani = str(tmp_path / "mani_resend")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    feed = _feed(tmp_path, "resend_feed", [[870], [870, 871]])
    _run_embed_stream(
        spark, feed, mani, str(tmp_path / "ckpt_resend"),
        near_threshold=0.9999, nprobe=4,
    )
    rows = [
        r["cid"] for r in read_indexed_vectors(spark, mani).collect()
        if r["cid"] >= 870
    ]
    assert sorted(rows) == [870, 871]  # 870 exactly once, 871 fresh


def test_write_ivf_index_manifest_honors_mode(spark, corpus, tmp_path):
    """protocol='manifest' keeps parquet's don't-clobber contract: the
    default mode='error' refuses to rebuild over live lists (pre-fix it
    silently committed with replace semantics); mode='overwrite'
    rebuilds atomically; other modes are refused up front."""
    mani = str(tmp_path / "mani_mode")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    with pytest.raises(IOError, match="already has live lists"):
        sim.write_ivf_index(
            corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
        )
    smaller = _vecs(spark, range(10))
    sim.write_ivf_index(
        smaller, mani, "vec_id", "embedding", n_centroids=2,
        protocol="manifest", mode="overwrite",
    )
    assert read_indexed_vectors(spark, mani).count() == 10
    with pytest.raises(ValueError, match="append_to_ivf_index"):
        sim.write_ivf_index(
            corpus, mani, "vec_id", "embedding", protocol="manifest", mode="append"
        )


def test_all_probed_lists_empty_reads_one_layer_for_schema(
    spark, tmp_path, monkeypatch
):
    """When every probed list is empty but the store has live lists,
    the zero-candidate schema read must touch ONE live layer, not plan
    over the whole store (pre-fix the fallback listed ALL live
    directories, a cost that grew with store size)."""
    # handmade centroids: corpus sits near c0/c1 only, query near c3
    cents = [
        [100.0] + [0.0] * (DIM - 1),
        [-100.0] + [0.0] * (DIM - 1),
        [0.0, 100.0] + [0.0] * (DIM - 2),
        [0.0, -100.0] + [0.0] * (DIM - 2),
    ]
    rows = [(i, [90.0 + i, float(i % 3)] + [0.0] * (DIM - 2)) for i in range(6)]
    rows += [(10 + i, [-90.0 - i, float(i % 3)] + [0.0] * (DIM - 2)) for i in range(6)]
    c = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mani = str(tmp_path / "mani_emptyprobe")
    sim.write_ivf_index(
        c, mani, "vec_id", "embedding", centroids=cents, protocol="manifest"
    )
    man = MS._latest_manifest(spark, mani)
    live = {k for k in man["layers"] if k.startswith("list_id=")}
    assert live == {"list_id=0", "list_id=1"}
    seen_vals = []
    real = MS.read_parts_layers

    def recording(spark_, path, vals=None, version=None, man=None):
        seen_vals.append(vals)
        return real(spark_, path, vals=vals, version=version, man=man)

    monkeypatch.setattr(MS, "read_parts_layers", recording)
    q = spark.createDataFrame(
        [(99, [0.0, -100.0] + [0.0] * (DIM - 2))], "vec_id long, embedding array<float>"
    )
    probe = sim.ivf_topk_over_index(
        spark, mani, q, "vec_id", "embedding", k=3, nprobe=1
    )
    assert probe.count() == 0
    assert sorted(probe.columns) == ["cid", "cos", "qid", "rn"]
    assert seen_vals and all(v is not None and len(v) == 1 for v in seen_vals)


def test_within_batch_near_shares_the_quantized_grid(spark, tmp_path):
    """Both near stages must share ONE threshold boundary: a pair whose
    raw cosine is just BELOW the threshold but equal on the 1e-4 grid
    (the grid _rerank_topk scores the standing-index stage on) must be
    collapsed by the within-batch stage too (pre-fix the self-join
    compared raw doubles, so boundary pairs were classified differently
    depending on which stage saw them)."""
    from traceframe_spark.streaming.embeddings import _dedup_near_within_batch

    c = 0.999915  # raw < threshold 0.99992, but both quantize to 9999
    import math

    v1 = [1.0, 0.0] + [0.0] * (DIM - 2)
    v2 = [c, math.sqrt(1 - c * c)] + [0.0] * (DIM - 2)
    batch = spark.createDataFrame(
        [(1, v1), (2, v2)], "vec_id long, embedding array<double>"
    )
    cents = [[1.0, 0.0] + [0.0] * (DIM - 2)]
    out = _dedup_near_within_batch(batch, "vec_id", "embedding", cents, 0.99992)
    assert sorted(r["vec_id"] for r in out.collect()) == [1]


def test_stream_embed_ingest_lease_refuses_second_stream(spark, corpus, tmp_path):
    """A REAL mid-stream collision: while a leased embed stream is
    draining its feed, a second leased stream against the same index is
    refused at start (the lease is acquired before any batch work);
    after the first terminates, the lease is released and a new leased
    stream starts cleanly. lease=True on a markers-free store is the
    self-enforcing form of the documented single-writer contract."""
    import os
    import time

    mani = str(tmp_path / "mani_lease")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    feed = _feed(tmp_path, "lease_feed", [[i] for i in range(1000, 1006)])
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )
    q1 = stream_embed_ingest(
        stream, mani, str(tmp_path / "lease_ckpt1"),
        lease=True, trigger_available_now=True,
    )
    try:
        # q1 holds the lease while draining 6 one-file batches; a
        # second leased stream must be refused AT START, loudly
        with pytest.raises(IOError, match="single-writer store"):
            stream_embed_ingest(
                stream, mani, str(tmp_path / "lease_ckpt2"),
                lease=True, trigger_available_now=True,
            )
    finally:
        q1.awaitTermination(600)
    assert {
        r["cid"] for r in read_indexed_vectors(spark, mani).collect()
        if r["cid"] >= 1000
    } == set(range(1000, 1006))
    # release on termination (listener fires async: poll briefly)
    for _ in range(60):
        if not os.path.exists(f"{mani}/_lease.json"):
            break
        time.sleep(0.5)
    assert not os.path.exists(f"{mani}/_lease.json")
    # the store is free again: a fresh leased stream starts and lands
    feed2 = _feed(tmp_path, "lease_feed2", [[1010]])
    _run_embed_stream(
        spark, feed2, mani, str(tmp_path / "lease_ckpt3"), lease=True
    )
    assert any(
        r["cid"] == 1010 for r in read_indexed_vectors(spark, mani).collect()
    )


@pytest.mark.volume
def test_compaction_cadence_bounds_embed_stream_dir_lists(spark, corpus, tmp_path):
    """compact_every=N keeps every list's live directory list bounded
    while a long feed runs — pre-knob, probe plans listed one directory
    per append forever — and the indexed rows stay identical to an
    uncompacted control run. All batch vectors steer to one list so
    the growth (and the bound) is deterministic."""
    # handmade centroids; every batch vector lands in list 0
    cents = [
        [100.0] + [0.0] * (DIM - 1),
        [-100.0] + [0.0] * (DIM - 1),
        [0.0, 100.0] + [0.0] * (DIM - 2),
        [0.0, -100.0] + [0.0] * (DIM - 2),
    ]

    def one_list_vec(i):
        return [100.0 + i, float(i)] + [0.0] * (DIM - 2)

    feed = tmp_path / "cadence_feed"
    feed.mkdir()
    for i in range(8):
        with open(feed / f"b{i}.jsonl", "w") as f:
            f.write(json.dumps(
                {"vec_id": 2000 + i, "embedding": one_list_vec(i)}
            ) + "\n")

    def build(name):
        p = str(tmp_path / name)
        sim.write_ivf_index(
            _vecs(spark, []).filter(F.lit(False)), p, "vec_id", "embedding",
            centroids=cents, protocol="manifest",
        )
        return p

    ctrl = build("cad_ctrl")
    _run_embed_stream(spark, str(feed), ctrl, str(tmp_path / "cad_ckpt_ctrl"))
    man_ctrl = MS._latest_manifest(spark, ctrl)
    # unbounded growth: 8 append dirs on the fed list; the ids_bloom
    # sidecar (r13) accumulates one more per commit incl. the build = 9
    assert len(man_ctrl["layers"]["list_id=0"]) == 8
    assert max(len(d) for d in man_ctrl["layers"].values()) == 9

    cad = build("cad_on")
    _run_embed_stream(
        spark, str(feed), cad, str(tmp_path / "cad_ckpt"),
        compact_every=3, vacuum_keep=2,
    )
    man_cad = MS._latest_manifest(spark, cad)
    assert max(len(d) for d in man_cad["layers"].values()) <= 3
    want = sorted(
        (r["cid"], r["list_id"]) for r in read_indexed_vectors(spark, ctrl).collect()
    )
    got = sorted(
        (r["cid"], r["list_id"]) for r in read_indexed_vectors(spark, cad).collect()
    )
    assert got == want
    # vacuum_keep reclaimed superseded dirs: the store's data/ holds
    # only directories some kept manifest references, yet every row
    # above was read back — compaction + vacuum never lost data
    with pytest.raises(ValueError, match="compact_every"):
        stream_embed_ingest(
            spark.readStream.schema("vec_id long, embedding array<float>").json(str(feed)),
            cad, str(tmp_path / "cad_bad"), compact_every=0,
        )


def _clone_mass_index(spark, tmp_path, name):
    """The r11 volume instrument's hazard in miniature: clone mass at
    its own magnitude/location draws its own centroid (list 7 holds 50
    clones of 10*u(20 deg)); the unit-magnitude query u(25 deg) is a
    true near-dup of the clones (cos 5 deg ~ 0.996) but ranks ALL
    SEVEN unit centroids nearer than the clone centroid, so small
    probe counts never look in list 7."""
    import math

    def u(deg, scale=1.0):
        r = math.radians(deg)
        return [scale * math.cos(r), scale * math.sin(r)] + [0.0] * (DIM - 2)

    cents = [u(45.0 * (k + 1)) for k in range(7)] + [u(20.0, 10.0)]
    rows = [(i, u(20.0 + 0.001 * i, 10.0)) for i in range(50)]  # clone mass
    rows += [(100 + k, u(45.0 * (k + 1) + 3.0)) for k in range(7)]  # sprinkle
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / name)
    sim.write_ivf_index(
        corpus, path, "vec_id", "embedding", centroids=cents, protocol="manifest"
    )
    return path, u(25.0)


def test_clone_burst_nprobe4_misses_auto_catches(spark, tmp_path):
    """The chosen default must catch what nprobe=4 demonstrably
    misses: against a clone-heavy index (list-size skew ~7), a query
    near-duplicate to the clone mass survives a 4-list probe (its
    near-dup's list ranks 8th) and lands — nprobe='auto' derives 8
    from the skew, probes every list, and drops it."""
    import math

    idx4, qvec = _clone_mass_index(spark, tmp_path, "clone_np4")
    feed = tmp_path / "clone_feed"
    feed.mkdir()
    with open(feed / "b0.jsonl", "w") as f:
        f.write(json.dumps({"vec_id": 999, "embedding": qvec}) + "\n")

    def run(idx, ckpt, **kw):
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .json(str(feed))
        )
        q = stream_embed_ingest(
            stream, idx, str(tmp_path / ckpt), near_threshold=0.99,
            trigger_available_now=True, **kw,
        )
        q.awaitTermination()

    run(idx4, "clone_ckpt4", nprobe=4)
    assert any(
        r["cid"] == 999 for r in read_indexed_vectors(spark, idx4).collect()
    ), "nprobe=4 should MISS the cross-boundary near-dup (it lands)"

    idx_auto, _ = _clone_mass_index(spark, tmp_path, "clone_auto")
    run(idx_auto, "clone_ckpt_auto")  # default nprobe="auto"
    assert not any(
        r["cid"] == 999 for r in read_indexed_vectors(spark, idx_auto).collect()
    ), "auto nprobe should catch the near-dup (query dropped)"
    # bogus nprobe refused up front
    with pytest.raises(ValueError, match="nprobe"):
        run(idx_auto, "clone_ckpt_bad", nprobe="lots")


def test_within_batch_cap_bounds_single_list_burst(spark, caplog):
    """A burst landing an entire batch in ONE list: with the cap, only
    each list's first cap members (by id) join pairwise — overflow
    passes through uncollapsed (documented partial collapse) and the
    truncation is logged loudly; uncapped, the whole chain collapses."""
    from traceframe_spark.streaming.embeddings import _dedup_near_within_batch

    base = [100.0, 1.0] + [0.0] * (DIM - 2)
    rows = [(i, [x + 0.001 * i for x in base]) for i in range(10)]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[100.0] + [0.0] * (DIM - 1), [-100.0] + [0.0] * (DIM - 1)]
    full = _dedup_near_within_batch(batch, "vec_id", "embedding", cents, 0.999)
    assert sorted(r["vec_id"] for r in full.collect()) == [0]
    with caplog.at_level("WARNING", logger="traceframe_spark.streaming.embeddings"):
        capped = _dedup_near_within_batch(
            batch, "vec_id", "embedding", cents, 0.999, cap=3
        )
        got = sorted(r["vec_id"] for r in capped.collect())
    assert got == [0] + list(range(3, 10))  # 1,2 collapsed; overflow passes
    assert any("truncated 1 list" in m for m in caplog.messages)


def test_stream_embed_ingest_adc_near_probe(spark, corpus, tmp_path):
    """near_probe='adc': the near stage scans codes, shortlists by
    approximate distance, and exact-reranks only the shortlist — a
    cross-batch exact re-send still dies at cosine 1.0 (its standing
    copy's code distance is minimal, so it enters the shortlist), a
    fresh vector lands, restart is idempotent; on a PQ-less index the
    mode is refused AT STREAM START."""
    cb = sim.pq_sample_codebooks(corpus, "vec_id", "embedding")
    mani = str(tmp_path / "mani_adc")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4,
        protocol="manifest", pq_samples=cb,
    )
    feed_dir = tmp_path / "adc_feed"
    feed_dir.mkdir()
    with open(feed_dir / "b0.jsonl", "w") as f:
        f.write(json.dumps({"vec_id": 400, "embedding": _vec(400)}) + "\n")
    with open(feed_dir / "b1.jsonl", "w") as f:
        f.write(json.dumps({"vec_id": 500, "embedding": _vec(400)}) + "\n")
        f.write(json.dumps({"vec_id": 501, "embedding": _vec(501)}) + "\n")
    ckpt = str(tmp_path / "adc_ckpt")
    kw = dict(near_threshold=0.9999, nprobe=4, near_probe="adc")
    _run_embed_stream(spark, str(feed_dir), mani, ckpt, **kw)
    landed = {
        r["cid"] for r in read_indexed_vectors(spark, mani).collect() if r["cid"] >= 400
    }
    assert landed == {400, 501}  # 500 = cross-batch re-send, caught by ADC+rerank
    total = read_indexed_vectors(spark, mani).count()
    _run_embed_stream(spark, str(feed_dir), mani, ckpt, **kw)
    assert read_indexed_vectors(spark, mani).count() == total
    # streamed rows carry codes (the fold encodes against manifest meta)
    row = [r for r in read_indexed_vectors(spark, mani).collect() if r["cid"] == 501]
    assert row and list(row[0]["code"])
    # PQ-less index refuses the mode at stream start
    plain = str(tmp_path / "mani_plain")
    sim.write_ivf_index(
        corpus, plain, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    with pytest.raises(ValueError, match="IVF-PQ"):
        _run_embed_stream(
            spark, str(feed_dir), plain, str(tmp_path / "p_ckpt"), **kw
        )
    with pytest.raises(ValueError, match="near_probe"):
        _run_embed_stream(
            spark, str(feed_dir), mani, str(tmp_path / "q_ckpt"),
            near_threshold=0.9, near_probe="hamming",
        )


def test_stream_embed_ingest_adc_shortlist_validated(spark, corpus, tmp_path):
    """adc_shortlist < 1 in near_probe='adc' mode would make the ADC
    shortlist empty and silently disable near-dup suppression (every
    re-send lands) — refused at stream start (r12 advisory)."""
    cb = sim.pq_sample_codebooks(corpus, "vec_id", "embedding")
    mani = str(tmp_path / "mani_adc_sl")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4,
        protocol="manifest", pq_samples=cb,
    )
    feed = _feed(tmp_path, "adc_sl_feed", [[400]])
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .json(feed)
    )
    with pytest.raises(ValueError, match="adc_shortlist must be >= 1"):
        stream_embed_ingest(
            stream, mani, str(tmp_path / "adc_sl_ckpt"),
            near_threshold=0.99, near_probe="adc", adc_shortlist=0,
            trigger_available_now=True,
        )


def test_stream_embed_id_guard_without_near_stage(spark, corpus, tmp_path):
    """The r12 documented gap, closed: with near_threshold=None a
    replayed feed still lands each id exactly once — batch ids are
    bloom-probed against the ids_bloom sidecar and confirmed against a
    cid-column read (ivf_id_hits). Restart idempotent; a same-id
    re-send with CHANGED content is also dropped (the guard is by id)."""
    mani = str(tmp_path / "mani_idg")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    feed_dir = tmp_path / "idg_feed"
    feed_dir.mkdir()
    with open(feed_dir / "b0.jsonl", "w") as f:
        f.write(json.dumps({"vec_id": 400, "embedding": _vec(400)}) + "\n")
    with open(feed_dir / "b1.jsonl", "w") as f:
        # 400 re-sent with DIFFERENT content; 401 fresh
        f.write(json.dumps({"vec_id": 400, "embedding": _vec(999)}) + "\n")
        f.write(json.dumps({"vec_id": 401, "embedding": _vec(401)}) + "\n")
    ckpt = str(tmp_path / "idg_ckpt")
    _run_embed_stream(spark, str(feed_dir), mani, ckpt)  # near stage OFF
    rows = [r for r in read_indexed_vectors(spark, mani).collect() if r["cid"] >= 400]
    assert sorted(r["cid"] for r in rows) == [400, 401]  # 400 landed ONCE
    total = read_indexed_vectors(spark, mani).count()
    _run_embed_stream(spark, str(feed_dir), mani, ckpt)  # restart: idempotent
    assert read_indexed_vectors(spark, mani).count() == total
    # the guard can be turned off: a fresh checkpoint with id_guard=False
    # replays the same feed and double-inserts (the documented pre-r13
    # contract for exactly-once-upstream feeds)
    mani2 = str(tmp_path / "mani_idg_off")
    sim.write_ivf_index(
        corpus, mani2, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    _run_embed_stream(
        spark, str(feed_dir), mani2, str(tmp_path / "idg_ckpt_off"),
        id_guard=False,
    )
    rows2 = [r for r in read_indexed_vectors(spark, mani2).collect() if r["cid"] >= 400]
    assert sorted(r["cid"] for r in rows2) == [400, 400, 401]


def test_ivf_id_hits_bloom_and_legacy(spark, corpus, tmp_path):
    """ivf_id_hits: exact membership answers with the ids_bloom sidecar
    (build + appends maintain it in the same commits, compaction
    OR-folds it) AND on a sidecar-less manifest (confirm-always
    fallback built by committing layers directly)."""
    from traceframe_spark.streaming import manifest_store as MS

    mani = str(tmp_path / "hits_idx")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", n_centroids=4, protocol="manifest"
    )
    sim.append_to_ivf_index(
        _vecs(spark, range(300, 305)), mani, "vec_id", "embedding"
    )
    man = MS._latest_manifest(spark, mani)
    assert "ids_bloom" in man["layers"] and len(man["layers"]["ids_bloom"]) == 2
    probe = _vecs(spark, [0, 3, 301, 304]).select("vec_id").unionByName(
        spark.createDataFrame([(7777,), (8888,)], "vec_id long")
    )
    got = sorted(
        r["vec_id"] for r in sim.ivf_id_hits(spark, mani, probe, "vec_id").collect()
    )
    assert got == [0, 3, 301, 304]
    # compaction folds the sidecar to one dir and <= n_words rows
    MS.compact_manifest_layers(spark, mani)
    man2 = MS._latest_manifest(spark, mani)
    assert len(man2["layers"]["ids_bloom"]) == 1
    words = MS.read_manifest_layer(spark, mani, "ids_bloom", man=man2)
    assert words.groupBy("word_idx").count().agg(
        F.max("count")
    ).first()[0] == 1
    got2 = sorted(
        r["vec_id"] for r in sim.ivf_id_hits(spark, mani, probe, "vec_id").collect()
    )
    assert got2 == got


def test_auto_nprobe_refreshes_on_compaction(spark, tmp_path, monkeypatch):
    """nprobe='auto' re-derives on the compaction cadence: a stream
    whose clone mass arrives AFTER start (skew 1 -> ~12) widens its
    probe mid-stream — batch 0 probes with the stream-start width (8),
    the cadence fires, and the next batch probes with the refreshed
    skew-derived width — instead of staying pinned to day-one geometry
    until restart (the r12 verdict's #5)."""
    def axis(k, mag=100.0):
        v = [0.0] * DIM
        v[k % DIM] = mag if k < DIM else -mag
        return v

    cents = [axis(k) for k in range(16)]  # 16 lists over 8 dims (+/- axes)
    seed = spark.createDataFrame(
        [(i, axis(i)) for i in range(16)], "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "np_refresh")
    sim.write_ivf_index(
        seed, idx, "vec_id", "embedding", centroids=cents, protocol="manifest"
    )

    feed = tmp_path / "np_refresh_feed"
    feed.mkdir()
    with open(feed / "b0.jsonl", "w") as f:
        for i in range(50):  # clone burst: all 50 land in list 0
            v = [100.0, 15.0 + i] + [0.0] * (DIM - 2)
            f.write(json.dumps({"vec_id": 1000 + i, "embedding": v}) + "\n")
    with open(feed / "b1.jsonl", "w") as f:
        v = [0.0] * DIM
        v[5], v[6] = 100.0, 30.0
        f.write(json.dumps({"vec_id": 2000, "embedding": v}) + "\n")

    widths = []
    real = sim.ivf_topk_over_index

    def recording(*a, **kw):
        widths.append(kw.get("nprobe"))
        return real(*a, **kw)

    monkeypatch.setattr(sim, "ivf_topk_over_index", recording)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )
    q = stream_embed_ingest(
        stream, idx, str(tmp_path / "np_refresh_ckpt"),
        near_threshold=0.99, compact_every=2, trigger_available_now=True,
    )
    q.awaitTermination()
    # batch 0 probed at the balanced-index width 8; the fold pushed
    # list 0 to 51 of 66 rows (skew ~12.4), the cadence compacted and
    # re-derived -> batch 1 probed at 13
    assert widths == [8, 13], widths


def test_semdedup_keep_over_index_equals_dataframe_path(spark, corpus, tmp_path):
    """semdedup_keep_over_index: resolving the quantizer from the
    manifest store yields the EXACT keep decision the DataFrame-
    centroids path makes on the same centroids — the store roundtrip
    must not flip a single verdict (and centroid_id is the stored
    quantizer's list id). Works on the sidecar protocol too."""
    cents = sim.train_ivf_centroids(corpus, "vec_id", "embedding", n_centroids=4)
    mani = str(tmp_path / "sd_idx")
    sim.write_ivf_index(
        corpus, mani, "vec_id", "embedding", centroids=cents, protocol="manifest"
    )
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "centroid_id long, embedding array<double>",
    )
    want = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in sim.semdedup_keep(
            corpus, cdf, "vec_id", "embedding", min_cos_q=3000
        ).collect()
    )
    got = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in sim.semdedup_keep_over_index(
            spark, mani, corpus, "vec_id", "embedding", min_cos_q=3000
        ).collect()
    )
    assert got == want and got
    side = str(tmp_path / "sd_side")
    sim.write_ivf_index(corpus, side, "vec_id", "embedding", centroids=cents)
    got_side = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in sim.semdedup_keep_over_index(
            spark, side, corpus, "vec_id", "embedding", min_cos_q=3000
        ).collect()
    )
    assert got_side == want
