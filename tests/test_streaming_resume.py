"""Checkpoint resume: the exactly-once contract of the streaming
parquet sink. A second run against the SAME checkpoint must process
only files that arrived after the first run — nothing re-emitted,
nothing lost. This is the property the availableNow scheduled-ingest
pattern relies on in production.
"""

import os

from pyspark.sql import functions as F


def test_parquet_sink_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    from mongo2pq_spark.sources.registry import read_sf_table

    src = tmp_path / "incoming"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    events = read_sf_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("overwrite").parquet(str(src / "batch_a"))

    schema = first.schema

    def drain_once():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        query = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    drain_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    # new data arrives; resume against the SAME checkpoint
    second.coalesce(1).write.mode("overwrite").parquet(str(src / "batch_b"))
    drain_once()

    result = spark.read.parquet(out)
    # batch_a not reprocessed (offsets checkpointed), batch_b fully in
    assert result.count() == events.count()
    assert result.select("event_id").distinct().count() == events.count()
    assert os.path.isdir(ckpt)


def test_foreach_batch_store_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id after failure recovery)
    must overwrite its own store partition, not double-count: the
    exactly-once contract now lives in the store layout instead of
    driver memory."""
    from mongo2pq_spark.streaming.windows import (
        make_batch_upsert,
        read_upsert_store,
    )

    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("click", 1.0), ("click", 2.0), ("view", 3.0)],
        "event_type string, value double",
    )
    upsert = make_batch_upsert(store)
    upsert(batch, 0)
    upsert(batch, 0)  # replay of the SAME batch id
    upsert(batch, 1)  # a genuinely new batch
    totals = {
        r.event_type: (r.n_events, r.total_value)
        for r in read_upsert_store(spark, store).collect()
    }
    # batch 0 counted once + batch 1 once = exactly 2x the batch
    assert totals["click"] == (4, 6.0)
    assert totals["view"] == (2, 6.0)


def test_run_foreach_batch_upsert_equals_batch_aggregate(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from mongo2pq_spark.streaming.windows import run_foreach_batch_upsert

    got = {
        r.event_type: (r.n_events, round(r.total_value, 2))
        for r in run_foreach_batch_upsert(
            spark, f"{sf_dir}/events.parquet", store_dir=str(tmp_path / "s")
        ).collect()
    }
    want = {
        r.event_type: (r.n, round(r.s, 2))
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert got == want


def test_streaming_near_dedup_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A crashed increment replayed against the SURVIVING store must
    produce identical flags (per-partition overwrite, data-keyed batch
    class, manifest-pinned offset) — the recovery contract of the
    continuous near-dedup pipeline."""
    import shutil

    from mongo2pq_spark.streaming.neardedup import run_streaming_near_dedup

    docs = f"{sf_dir}/documents.parquet"
    store = str(tmp_path / "store")
    first = sorted(
        tuple(r) for r in run_streaming_near_dedup(
            spark, docs, store_dir=store
        ).collect()
    )
    # simulate a crash AFTER the batches ran but before the increment
    # was marked complete: drop the done marker + checkpoint so the
    # next call resumes increment r0000 and replays every batch
    # against the surviving store — the recovery worst case
    os.remove(os.path.join(store, "runs", "r0000.done"))
    shutil.rmtree(os.path.join(store, "ckpt_r0000"), ignore_errors=True)
    second = sorted(
        tuple(r) for r in run_streaming_near_dedup(
            spark, docs, store_dir=store
        ).collect()
    )
    assert first == second
    assert any(r[2] for r in first), "fixture should contain near-dups"


def test_streaming_near_dedup_second_increment(spark, sf_dir, tmp_path):
    """A second increment over NEW documents must dedup against the
    first increment's persisted bands (run-unique stage + checkpoint,
    global batch sequence): exact copies with fresh ids all come back
    flagged, and the first increment's flags are untouched. Compacting
    the band store between increments must not change any flag."""
    from mongo2pq_spark.streaming.neardedup import (
        compact_band_store,
        run_streaming_near_dedup,
    )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inc1_path = str(tmp_path / "inc1")
    inc2_path = str(tmp_path / "inc2")
    base.filter(F.col("doc_id") < 100).write.parquet(inc1_path)
    # increment 2 = copies of 50 increment-1 texts under fresh ids
    (
        base.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .write.parquet(inc2_path)
    )

    def run_two(store):
        first = {
            r.doc_id: (r.batch_k, r.is_dup)
            for r in run_streaming_near_dedup(
                spark, inc1_path, store_dir=store
            ).collect()
        }
        if store.endswith("compacted"):
            compact_band_store(spark, store)
        both = {
            r.doc_id: (r.batch_k, r.is_dup)
            for r in run_streaming_near_dedup(
                spark, inc2_path, store_dir=store
            ).collect()
        }
        return first, both

    first, both = run_two(str(tmp_path / "plain"))
    # every copy collides with increment 1's band index
    assert all(both[d + 10_000][1] for d in range(50))
    # increment 2 landed in the next global sequence window (4..7)
    assert {both[d + 10_000][0] for d in range(50)} <= {4, 5, 6, 7}
    # increment 1's flags survive unchanged in the combined table
    assert {d: v for d, v in both.items() if d < 10_000} == first

    _, both_c = run_two(str(tmp_path / "compacted"))
    assert both_c == both


def test_streaming_dedup_driver_collect_needs_opt_in(spark, sf_dir):
    """store_dir=None funnels the flag table through the driver and is
    a test/verification convenience only — without the explicit
    driver_collect_ok opt-in it must fail loud BEFORE any work, so a
    production pipeline cannot reach the collect by accident
    (verdict r12 #9)."""
    import pytest

    from mongo2pq_spark.operators.dedup import simhash_fingerprints
    from mongo2pq_spark.streaming.neardedup import (
        run_streaming_hamming_dedup,
        run_streaming_near_dedup,
    )

    docs = f"{sf_dir}/documents.parquet"
    with pytest.raises(ValueError, match="driver_collect_ok"):
        run_streaming_near_dedup(spark, docs)
    with pytest.raises(ValueError, match="driver_collect_ok"):
        run_streaming_hamming_dedup(spark, docs, simhash_fingerprints)


def test_begin_increment_manifest_lifecycle(tmp_path):
    """Offset allocation and crash-resume semantics of the run
    manifest, without Spark: completed runs advance the offset by
    their OWN n_batches; an un-done manifest is resumed with its
    original (offset, n_batches) even if the caller passes different
    arguments; the next run after completion gets a fresh id."""
    import pytest

    from mongo2pq_spark.streaming.neardedup import _begin_increment

    store = str(tmp_path / "store")
    run1, off1, nb1 = _begin_increment(store, 4, "/data/a")
    assert (run1, off1, nb1) == ("r0000", 0, 4)
    # crash before .done: a retry (even with a different n_batches
    # request) must resume r0000 with the ORIGINAL batch count
    again = _begin_increment(store, 8, "/data/a")
    assert again == ("r0000", 0, 4)
    # ... but a retry pointed at DIFFERENT documents must refuse to
    # drain the crashed increment's staged files under the new name
    with pytest.raises(ValueError, match="crashed mid-run"):
        _begin_increment(store, 4, "/data/b")
    # mark complete -> next increment starts at offset 4
    (tmp_path / "store" / "runs" / "r0000.done").write_text("")
    run2, off2, nb2 = _begin_increment(store, 3, "/data/b")
    assert (run2, off2, nb2) == ("r0001", 4, 3)
    (tmp_path / "store" / "runs" / "r0001.done").write_text("")
    # offsets are the running sum of completed n_batches (4 + 3)
    assert _begin_increment(store, 5, "/data/c") == ("r0002", 7, 5)


def test_band_store_swap_recovery(tmp_path):
    """Every crash window of the compaction swap must be recoverable:
    a complete swap-in rolls FORWARD when the store was renamed aside,
    a stranded old copy (no swap-in) rolls BACK, and post-swap
    leftovers are dropped — the store is never left without a bands
    directory (which the batch probe would read as 'empty store' and
    mass-unflag duplicates)."""
    import shutil

    from mongo2pq_spark.plans.bandstore_core import aux_path
    from mongo2pq_spark.streaming.neardedup import _recover_band_store_swap

    store = tmp_path / "s"
    bands = store / "bands"
    swapin, old = aux_path(bands, "swapin"), aux_path(bands, "old")

    # window 1: crash between the two renames — only the swap-in exists
    swapin.mkdir(parents=True)
    (swapin / "part").write_text("compacted")
    _recover_band_store_swap(str(store))
    assert (bands / "part").read_text() == "compacted"
    assert not swapin.exists()

    # window 2: crash before the build got its swap-in name — the old
    # store (renamed aside) must come back
    shutil.rmtree(bands)
    old.mkdir()
    (old / "part").write_text("original")
    _recover_band_store_swap(str(store))
    assert (bands / "part").read_text() == "original"
    assert not old.exists()

    # window 3: crash after the swap, before the old store was deleted
    old.mkdir()
    (old / "part").write_text("stale")
    _recover_band_store_swap(str(store))
    assert (bands / "part").read_text() == "original"
    assert not old.exists()

    # window 4: ambiguous state (live bands AND a swap-in, i.e. crash
    # before the store was renamed aside) — the live store wins, the
    # recomputable swap-in is discarded
    swapin.mkdir()
    (swapin / "part").write_text("ambiguous")
    _recover_band_store_swap(str(store))
    assert (bands / "part").read_text() == "original"
    assert not swapin.exists()


def test_run_log_numeric_ordering_past_r9999(tmp_path):
    """Run ids must order NUMERICALLY: lexicographically 'r10000' <
    'r9999', so a string sort would resume-check the wrong manifest —
    a crashed increment past the 10 000th would silently never resume
    (under-dedup) while its batch count still leaked into offsets."""
    import json

    from mongo2pq_spark.plans.bandstore_core import RunLog

    log = RunLog(tmp_path / "runs")
    # fabricate a long-lived store: runs r9998 and r9999 done, two
    # batches each (offset = running sum of completed n_batches)
    (tmp_path / "runs").mkdir()
    for i in range(9998, 10000):
        with open(tmp_path / "runs" / f"r{i:04d}.json", "w") as fh:
            json.dump({"offset": 2 * (i - 9998), "n_batches": 2,
                       "documents_path": f"/d/{i}"}, fh)
        log.mark_done(f"r{i:04d}")
    # the next run crosses the 5-digit boundary and then crashes
    rid, off, nb = log.begin_numbered(3, "/d/crashed")
    assert rid == "r10000" and off == 4 and nb == 3
    # a retry with the same path resumes IT (numeric max), with the
    # original parameters — not r9999, and no offset drift
    assert log.begin_numbered(7, "/d/crashed") == ("r10000", off, 3)
    # pointed at different input, it refuses
    import pytest

    with pytest.raises(ValueError, match="crashed mid-run"):
        log.begin_numbered(3, "/d/other")
    # completed, the next id continues numerically
    log.mark_done("r10000")
    rid2, off2, _ = log.begin_numbered(1, "/d/next")
    assert rid2 == "r10001" and off2 == off + 3


def test_streaming_hamming_dedup_second_increment(spark, sf_dir, tmp_path):
    """The Hamming store's multi-increment contract, mirrored from the
    MinHash store: a second increment of exact text copies under fresh
    ids must all flag against the first increment's persisted banded
    fingerprints (simhash of identical text is identical -> Hamming 0);
    first-increment flags untouched; compaction between increments
    changes no flag. Also pins flag parity with the pure batch rule
    (banding is pigeonhole-complete at <=3)."""
    from mongo2pq_spark.operators.dedup import simhash_fingerprints
    from mongo2pq_spark.streaming.neardedup import (
        compact_hamming_store,
        run_streaming_hamming_dedup,
    )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inc1_path = str(tmp_path / "inc1")
    inc2_path = str(tmp_path / "inc2")
    base.filter(F.col("doc_id") < 100).write.parquet(inc1_path)
    (
        base.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .write.parquet(inc2_path)
    )

    def run_two(store):
        first = {
            r.doc_id: (r.batch_k, r.is_dup)
            for r in run_streaming_hamming_dedup(
                spark, inc1_path, simhash_fingerprints, store_dir=store
            ).collect()
        }
        if store.endswith("compacted"):
            compact_hamming_store(spark, store)
        both = {
            r.doc_id: (r.batch_k, r.is_dup)
            for r in run_streaming_hamming_dedup(
                spark, inc2_path, simhash_fingerprints, store_dir=store
            ).collect()
        }
        return first, both

    first, both = run_two(str(tmp_path / "plain"))
    assert all(both[d + 10_000][1] for d in range(50))
    assert {both[d + 10_000][0] for d in range(50)} <= {4, 5, 6, 7}
    assert {d: v for d, v in both.items() if d < 10_000} == first

    # batch-rule parity for increment 1: dup iff an earlier-batch or
    # lower-id same-batch doc sits within Hamming 3
    fps = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(
            base.filter(F.col("doc_id") < 100)
        ).collect()
    }
    for d, (k, flag) in first.items():
        expected = any(
            bin(fps[e] ^ fps[d]).count("1") <= 3
            for e in fps
            if (e % 4 < k) or (e % 4 == k and e < d)
        )
        assert flag == expected, d

    _, both_c = run_two(str(tmp_path / "compacted"))
    assert both_c == both


def test_streaming_dq_monitor_planted_and_unique_rejected(spark, tmp_path):
    """Planted violations land in specific micro-batches and the
    cross-batch rollup equals the whole-input counts; 'unique' is
    rejected with the typed batch-surface error."""
    import pandas as pd
    import pytest

    from mongo2pq_spark.streaming.dq import run_streaming_dq_monitor

    pdf = pd.DataFrame(
        {
            "event_id": range(12),
            "value": [5.0, -1.0, 3.0, None, 8.0, -2.0] * 2,
            "tag": ["ok", "ok", "bad", "ok", "ok", "ok"] * 2,
        }
    )
    p = tmp_path / "t.parquet"
    pdf.to_parquet(p)
    rules = [
        {"rule_id": "v_min", "kind": "min", "col": "value", "value": 0.0},
        {"rule_id": "t_set", "kind": "in_set", "col": "tag",
         "values": ["ok"]},
    ]
    got = {
        r["rule_id"]: r.asDict()
        for r in run_streaming_dq_monitor(
            spark, str(p), rules, n_batches=3
        ).collect()
    }
    assert got["v_min"]["n_rows"] == 12
    assert got["v_min"]["n_violations"] == 4  # the four negatives
    assert got["v_min"]["n_batches_seen"] == 3
    assert got["v_min"]["passed"] is False
    assert got["t_set"]["n_violations"] == 2
    assert got["v_min"]["violation_frac"] == round(4 / 12, 6)

    with pytest.raises(ValueError, match="not batch-decomposable"):
        run_streaming_dq_monitor(
            spark, str(p),
            [{"rule_id": "u", "kind": "unique", "col": "event_id"}],
        )


def test_tar_members_by_path_matches_batch_parser(spark, tmp_path):
    """Streaming/batch ingestion parity: the streaming path's
    sequential O(member) tar parse (tar_members_by_path) must emit
    row-for-row the same (name, n_bytes, content_md5) manifest as
    the batch parser (archive_manifest) on the same shard bytes —
    non-file members included. This test IS the no-drift contract
    that replaced the shared whole-payload parser (VERDICT r13 #2:
    the binaryFile row materialized whole shards per task)."""
    import io
    import tarfile

    from mongo2pq_spark.operators.archives import archive_manifest
    from mongo2pq_spark.streaming.taringest import (
        _local_path,
        tar_members_by_path,
    )

    # hand-built shard: regular files AND a directory member (the
    # batch parser digests b"" for non-files; parity must too)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        d = tarfile.TarInfo("samples/")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        for i in range(5):
            payload = f"payload-{i} ".encode() * (i + 1)
            info = tarfile.TarInfo(f"samples/doc{i}.txt")
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    shard = tmp_path / "shard-00000.tar"
    shard.write_bytes(buf.getvalue())

    paths = spark.createDataFrame([(str(shard),)], "path string")
    streaming_rows = sorted(
        tuple(r) for r in tar_members_by_path(paths).collect()
    )
    batch_rows = sorted(
        (r["name"], r["n_bytes"], r["content_md5"])
        for r in archive_manifest(
            spark.createDataFrame(
                [(0, buf.getvalue())], "doc_id bigint, payload binary"
            )
        ).collect()
    )
    assert streaming_rows == batch_rows
    assert len(streaming_rows) == 6  # 5 files + 1 directory

    # file-source URIs resolve; remote schemes fail loud
    assert _local_path(f"file:{shard}") == str(shard)
    assert _local_path(str(shard)) == str(shard)
    import pytest

    with pytest.raises(ValueError, match="executor-visible"):
        _local_path("s3a://bucket/shard-0.tar")


def test_streaming_nb_ingest_equals_batch_train(spark, tmp_path):
    """The streamed count-fold must equal nb_train on the union of
    all landed waves (additive statistics through the file-source
    log), and a resumed stream over the same landing tree must fold
    NOTHING new — the checkpoint + batch-keyed overwrite make the
    whole chain exactly-once."""
    from mongo2pq_spark.operators.classifier import nb_train
    from mongo2pq_spark.streaming.nbingest import run_streaming_nb_ingest

    rows = [
        (1, "spam buy now buy", "spam"),
        (2, "buy cheap spam spam", "spam"),
        (3, "hello dear friend", "ham"),
        (4, "dear friend hello hello meeting", "ham"),
        (5, "", "ham"),
        (6, "agenda newsletter agenda", "promo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    landing = tmp_path / "landing"
    for k in range(2):
        docs.filter(docs.doc_id % 2 == k).write.mode("overwrite").parquet(
            str(landing / f"wave{k}")
        )
    store = str(tmp_path / "nbstore")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id bigint, text string, lang string"

    model_s, priors_s = run_streaming_nb_ingest(
        spark, str(landing), schema, store, ckpt, "lang",
        max_files_per_trigger=1,
    )
    model_t, priors_t = nb_train(docs, "lang")

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    assert snap(model_s) == snap(model_t)
    assert snap(priors_s) == snap(priors_t)

    # resume over the same landing tree: the file-source log skips
    # every already-seen file; the store must be unchanged
    import os

    batches_before = sorted(os.listdir(os.path.join(store, "term_counts")))
    model_r, priors_r = run_streaming_nb_ingest(
        spark, str(landing), schema, store, ckpt, "lang",
        max_files_per_trigger=1,
    )
    assert sorted(
        os.listdir(os.path.join(store, "term_counts"))
    ) == batches_before
    assert snap(model_r) == snap(model_t)


def test_streaming_nb_ingest_refuses_foreign_checkpoint(spark, tmp_path):
    """The store is pinned to its checkpoint's identity (ADVICE r14):
    stream batch ids are positional, so a WIPED checkpoint restarts
    them at 0 and the batch-keyed overwrite would silently replace a
    different prior batch's counts while the reset seen-files log
    re-ingests old drops on top. The pin turns both silent
    corruptions into one loud refusal; a checkpoint RELOCATED intact
    (identity file moves with it) keeps working."""
    import shutil

    import pytest

    from mongo2pq_spark.streaming.nbingest import run_streaming_nb_ingest

    docs = spark.createDataFrame(
        [(1, "spam buy now", "spam"), (2, "hello dear friend", "ham")],
        "doc_id long, text string, lang string",
    )
    landing = tmp_path / "landing"
    docs.write.parquet(str(landing / "wave0"))
    store = str(tmp_path / "nbstore")
    ckpt = tmp_path / "ckpt"
    schema = "doc_id bigint, text string, lang string"

    run_streaming_nb_ingest(
        spark, str(landing), schema, store, str(ckpt), "lang"
    )

    # relocated-intact checkpoint: identity travels with the dir
    moved = tmp_path / "ckpt_moved"
    shutil.move(str(ckpt), str(moved))
    model_m, _ = run_streaming_nb_ingest(
        spark, str(landing), schema, store, str(moved), "lang"
    )
    assert model_m.count() > 0

    # wiped checkpoint: fresh identity, same store -> loud refusal
    shutil.rmtree(str(moved))
    with pytest.raises(ValueError, match="different checkpoint"):
        run_streaming_nb_ingest(
            spark, str(landing), schema, store, str(moved), "lang"
        )

    # a fresh store accepts the new checkpoint
    model_f, _ = run_streaming_nb_ingest(
        spark,
        str(landing),
        schema,
        str(tmp_path / "nbstore2"),
        str(moved),
        "lang",
    )
    assert model_f.count() > 0
