"""MinHash values against a pure-Python reference, and the Spark-job
budget of the near-dedup store.

The reference spells out the definition the Spark expressions and the
DuckDB oracles share: tokens are the space-trimmed text split on runs
of ASCII whitespace (Java's ``\\s``) with empties dropped; shingles are
the distinct ``shingle_n``-token windows joined by one space; a
shingle hashes to the first 8 hex digits of its UTF-8 md5; component
i of a signature is ``min((h * a_i + b_i) % (2^31 - 1))``; band b is
the md5 hex of its components joined by commas; the store keeps a
document whose every band-colliding stored signature agrees on fewer
than ``threshold * k`` components."""

import hashlib
import random
import re
import time
import uuid

from mongo2pq_spark.functions.hashing import MERSENNE_P, minhash_perms
from mongo2pq_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_K,
    minhash_band_table,
    minhash_signatures,
)

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

#: texts at the tokenizer's edges, keyed by doc id
EDGE_TEXTS = {
    1: None,
    2: "",
    3: "   ",
    4: "two words",
    5: "  exactly three words  ",
    6: "tabs\tand\nnewlines\r\nand  space   runs between\x0bwords\fhere",
    7: "\tleading tab then words one two three",
    8: "café naïve résumé über straße café naïve",
    9: "東京 大阪 京都 札幌 名古屋",
    10: "no\u00a0break space\u3000ideographic space stays inside tokens",
    11: "a b c a b c a b c a b c",
    12: "the quick brown fox jumps over the lazy dog " * 3,
}


def ref_tokens(text):
    if text is None:
        return []
    return [t for t in _JAVA_WS.split(text.strip(" ")) if t]


def ref_signature(text, k=DEFAULT_K, shingle_n=3, seed=42):
    """Signature tuple, or None for a text with no shingles."""
    toks = ref_tokens(text)
    hashes = {
        int(hashlib.md5(" ".join(toks[i : i + shingle_n]).encode()).hexdigest()[:8], 16)
        for i in range(len(toks) - shingle_n + 1)
    }
    if not hashes:
        return None
    return tuple(
        min((h * a + b) % MERSENNE_P for h in hashes)
        for a, b in minhash_perms(k, seed)
    )


def ref_bands(sig, k=DEFAULT_K, bands=DEFAULT_BANDS):
    rows = k // bands
    return {
        (b, hashlib.md5(",".join(map(str, sig[b * rows : (b + 1) * rows])).encode()).hexdigest())
        for b in range(bands)
    }


def _docs(spark, texts):
    return spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )


def test_minhash_signatures_and_bands_match_reference(spark):
    sig = minhash_signatures(_docs(spark, EDGE_TEXTS))
    got = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(DEFAULT_K))
        for r in sig.collect()
    }
    want = {
        i: s
        for i, s in ((i, ref_signature(t)) for i, t in EDGE_TEXTS.items())
        if s is not None
    }
    # docs without a shingle (NULL, empty, blank, < 3 tokens) have no row
    assert sorted(want) == [5, 6, 7, 8, 9, 10, 11, 12]
    assert got == want
    # the NBSP and the ideographic space are not separators
    assert len(ref_tokens(EDGE_TEXTS[10])) == 6

    bands = minhash_band_table(sig).collect()
    assert {(r.doc_id, r.band_id, r.band_hash) for r in bands} == {
        (i, b, h) for i, s in want.items() for b, h in ref_bands(s)
    }
    assert len(bands) == DEFAULT_BANDS * len(want)


def _near_dup_corpus():
    """History docs and a new batch of edited copies (1 to 8 words
    changed), verbatim copies, fresh docs and edge texts."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    history = {
        i: " ".join(rng.choice(vocab) for _ in range(24)) for i in range(40)
    }
    new = {}
    for i, text in history.items():
        words = text.split()
        edits = (0, 1, 1, 2, 3, 4, 6, 8)[i % 8]
        for pos in rng.sample(range(len(words)), edits):
            words[pos] = f"x{i}_{pos}"
        new[100 + i] = " ".join(words)
    for i in range(10):
        new[200 + i] = " ".join(rng.choice(vocab) for _ in range(24))
    for i, text in EDGE_TEXTS.items():
        new[300 + i] = text
    return history, new


def test_near_dedup_store_agreement_matches_reference(spark, tmp_path):
    from mongo2pq_spark.plans.neardedup_store import STORE_ID, NearDedupStore

    k = DEFAULT_K
    history, new = _near_dup_corpus()
    hist_sigs = {t: ref_signature(t) for t in history.values()}
    hist_bands = {}
    for text, s in hist_sigs.items():
        for band in ref_bands(s):
            hist_bands.setdefault(band, set()).add(text)
    # agreement of every band-colliding (new, stored) pair
    agree = {}
    for i, text in new.items():
        s = ref_signature(text)
        if s is None:
            continue
        for band in ref_bands(s):
            for other in hist_bands.get(band, ()):
                agree[i, other] = sum(
                    x == y for x, y in zip(s, hist_sigs[other])
                )
    levels = sorted(set(agree.values()))
    assert len(levels) >= 3, levels
    # a threshold some pair meets exactly, with candidates below it
    threshold = levels[len(levels) // 2] / k
    dropped = {i for (i, _), n in agree.items() if n / k >= threshold}
    assert dropped and any(n / k < threshold for n in agree.values())

    def store():
        return NearDedupStore(tmp_path, "docs", text_col="text", threshold=threshold)

    first = store()
    hist_df = _docs(spark, history)
    tok = first.batch_token(hist_df)
    assert first.filter_new(hist_df, tok).count() == len(history)
    first.commit(tok)

    second = store()
    new_df = _docs(spark, new)
    tok = second.batch_token(new_df)
    kept = {r.doc_id for r in second.filter_new(new_df, tok).collect()}
    assert kept == set(new) - dropped
    second.commit(tok)

    # the committed rows are the survivors' reference signatures and bands
    survivors = {
        hashlib.md5(new[i].encode()).hexdigest(): s
        for i in kept
        if (s := ref_signature(new[i])) is not None
    }
    sigs = spark.read.parquet(str(tmp_path / "docs" / "sigs" / f"batch={tok}"))
    assert {
        r[STORE_ID]: tuple(r[f"mh{i}"] for i in range(k)) for r in sigs.collect()
    } == survivors
    bands = spark.read.parquet(str(tmp_path / "docs" / "bands" / f"batch={tok}"))
    assert {(r[STORE_ID], r.band_id, r.band_hash) for r in bands.collect()} == {
        (d, b, h) for d, s in survivors.items() for b, h in ref_bands(s)
    }


def _job_ids(spark, fn):
    """Ids of the Spark jobs ``fn`` launches, from the status tracker."""
    sc = spark.sparkContext

    def in_group(group, body):
        sc.setJobGroup(group, group)
        try:
            body()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    group = f"budget-{uuid.uuid4().hex}"
    in_group(group, fn)
    # the tracker is fed asynchronously, in submission order: once it
    # has seen a later sentinel job, it has seen every job of ``fn``
    sentinel = f"{group}-sentinel"
    in_group(sentinel, lambda: sc.parallelize([0], 1).count())
    deadline = time.monotonic() + 60
    while not sc.statusTracker().getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "status tracker never saw the sentinel"
        time.sleep(0.05)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_near_dedup_store_job_budget(spark, tmp_path, monkeypatch):
    """``filter_new`` only builds a plan: zero Spark jobs, also with
    history to probe. ``consolidate`` launches nothing but its fold
    writes: no parquet schema-inference job per tree."""
    from mongo2pq_spark.plans import bandstore_core
    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    history, new = _near_dup_corpus()
    for texts in (history, new):
        store = NearDedupStore(tmp_path, "docs", text_col="text")
        df = _docs(spark, texts)
        tok = store.batch_token(df)
        out = []
        assert _job_ids(spark, lambda: out.append(store.filter_new(df, tok))) == []
        out[0].count()
        store.commit(tok)

    folds = []
    monkeypatch.setattr(
        bandstore_core, "replace_dir", lambda target, writer: folds.append(target)
    )
    store = NearDedupStore(tmp_path, "docs", text_col="text")
    assert _job_ids(spark, lambda: store.consolidate(spark)) == []
    assert folds == [store.tree(t) / "batch=c0" for t in ("sigs", "bands")]
