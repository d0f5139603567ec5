"""Persistent cross-run incremental near-dedup store — the backend of
the CLI's ``--near-dedup-store`` flag.

Each EL run is one BATCH: the incoming documents are shingled once,
probed against every PREVIOUSLY ingested batch's LSH bands, candidate
collisions are VERIFIED against stored MinHash signatures (band
collision alone is a candidate generator with a known false-positive
rate — ~1.3 % at true Jaccard 0.2 for the 32/8 default — so dropping
on candidacy would silently delete distinct documents), and the
surviving documents' signatures + bands are committed to the store.
Per-run cost scales with the increment, never the corpus; history's
only trace is the k-integer signature table and its band projection.

The batch lifecycle (pin, token partitions, done markers, recovery,
the ``batch=c0`` fold) is ``plans/bandstore_core.py::BatchStore``;
this store keeps per-row provenance (``src_token``). The pin holds
the MinHash parameters (k, bands, shingle width, seed), the text
column and layout 2 (rows carry ``src_token``; no earlier layout ever
persisted). The store identifies documents by the md5 DIGEST of their
text, not by any caller id column: digests are unique after the
exact-dedup pass that precedes the store in the CLI (one survivor per
digest), identical for identical texts even without it (so a merged
signature is the same signature), and immune to id-column
name/width/uniqueness drift between runs.

Layout under ``<root>/<collection>/``::

    meta.json              pinned minhash params + text column
    runs/<token>.done      batch completion markers
    sigs/batch=<token>/    (doc id [string], mh0..mh{k-1}, src_token)
    bands/batch=<token>/   (doc id [string], band_id, band_hash,
                            src_token) — survivors only

Growth: k integers + ``bands`` band rows per surviving document, and
one ``batch=`` partition pair per run until ``consolidate()`` folds
them (a listing cost, not a data cost).

Scale shape: probe = one equi-join of the increment's bands against
the stored band partitions; verify = one join of candidate pairs
against two signature tables + a k-term agreement expression (no
text, no UDF, no distinct pass: both consumers of the drop set are
anti-joins); the only cached artifacts are the increment's
signatures and the dropped-id set (≪ increment size). At increment
sizes Spark jobs and driver round trips, not rows, are the cost, so:
every read of a tree carries the schema the pinned ``k`` fixes
(``tree_schema``), which lets ``filter_new`` build its plan without
launching a job and spares a fold the parquet schema-inference job;
and the k-wide expressions (signature aggregates, band structs,
rename, agreement) are SQL text, one py4j call each instead of a
Column tree per term.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo2pq_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_K,
    minhash_agreement_sql,
    minhash_band_table,
    minhash_signatures,
)
from mongo2pq_spark.plans.bandstore_core import (
    BatchStore,
    digest_batch_token,
)

#: canonical id column inside the store: md5(text). Unique per
#: distinct text, rerun-stable, independent of caller id columns
STORE_ID = "__m2p_id"


class NearDedupStore(BatchStore):
    NAME = "near-dedup store"
    PIN_ARGS = ("text_col", "k", "bands", "shingle_n", "seed")
    TREES = ("sigs", "bands")

    def __init__(
        self,
        root: str | os.PathLike,
        collection: str,
        text_col: str,
        threshold: float = 0.8,
        k: int = DEFAULT_K,
        bands: int = DEFAULT_BANDS,
        shingle_n: int = 3,
        seed: int = 42,
    ) -> None:
        if not 0.0 < threshold <= 1.0:
            raise ValueError(
                f"near-dedup threshold must be in (0, 1], got {threshold}"
                " — above 1 the verification can never pass (silent"
                " no-op); at or below 0 every raw band-collision"
                " candidate is dropped unverified"
            )
        self.text_col = text_col
        self.threshold = threshold
        self.k, self.bands = k, bands
        self.shingle_n, self.seed = shingle_n, seed
        self._sig = None
        self._dropped = None
        super().__init__(
            root,
            collection,
            {
                "layout": 2,
                "text_col": text_col,
                "k": k,
                "bands": bands,
                "shingle_n": shingle_n,
                "seed": seed,
            },
        )

    # ---------------------------------------------------------- batch

    def _digest(self) -> Column:
        return F.md5(F.encode(F.col(self.text_col), "utf-8"))

    def batch_token(self, df: DataFrame) -> str:
        """Content token of the batch's text-digest set
        (``digest_batch_token``).

        Deliberate consequence of content-only identity: an input
        whose digest set EXACTLY equals an already-committed batch is
        indistinguishable from a retry of that batch and replays it
        (same output as the original, own partitions excluded from the
        probe) rather than dropping everything as history-duplicates.
        Between the two ways to resolve the ambiguity this is the safe
        one — the alternative empties the output on every operator
        retry — and byte-identical re-crawls are exactly what plain
        exact dedup catches downstream; this store's value is the
        EDITED re-crawl."""
        return digest_batch_token(df, self._digest())

    def filter_new(self, df: DataFrame, token: str) -> DataFrame:
        """Drop documents that near-duplicate ANY previously ingested
        batch: band collision proposes, signature agreement ≥ threshold
        confirms. The increment's signatures are computed ONCE and
        cached (k integers per doc) for reuse by ``commit``."""
        sig = minhash_signatures(
            df.select(
                self._digest().alias(STORE_ID),
                F.col(self.text_col),
            ),
            STORE_ID,
            self.text_col,
            self.k,
            self.shingle_n,
            self.seed,
        ).persist()
        self._sig = sig

        spark = df.sparkSession
        band_dirs = self.other_batches("bands", token)
        if not band_dirs:
            self._dropped = None
            return df
        # row-level own-batch exclusion (src_token) is the
        # correctness backbone once batches are CONSOLIDATED into one
        # partition; the path-level exclusion above remains as a pure
        # read-avoidance optimization for unconsolidated batches
        not_own = F.col("src_token") != token
        index_bands = (
            self.read_tree(spark, "bands", band_dirs)
            .filter(not_own)
            .selectExpr(f"{STORE_ID} AS existing_id", "band_id", "band_hash")
        )
        new_bands = minhash_band_table(sig, STORE_ID, self.k, self.bands)
        # NOTE: no self-match guard on the ids — the probe already
        # excludes this batch's own partitions, so an equal digest
        # across batches IS a genuine duplicate (the same text
        # re-ingested) and must be dropped, not skipped. No distinct
        # either: a pair colliding in several bands is verified once
        # per band, and both consumers of the drop set are anti-joins
        cand = new_bands.join(index_bands, ["band_id", "band_hash"]).select(
            STORE_ID, "existing_id"
        )
        sig_dirs = self.other_batches("sigs", token)
        index_sigs = (
            self.read_tree(spark, "sigs", sig_dirs)
            .filter(not_own)
            .selectExpr(
                f"{STORE_ID} AS existing_id",
                *[f"mh{i} AS emh{i}" for i in range(self.k)],
            )
        )
        agreement = F.expr(minhash_agreement_sql(self.k, "", "e")) / float(
            self.k
        )
        dropped = (
            cand.join(sig, STORE_ID)
            .join(index_sigs, "existing_id")
            .filter(agreement >= self.threshold)
            .select(STORE_ID)
            .persist()
        )
        self._dropped = dropped
        return df.join(
            dropped.withColumnRenamed(STORE_ID, "__m2p_drop_id"),
            self._digest() == F.col("__m2p_drop_id"),
            "left_anti",
        )

    def commit(self, token: str) -> None:
        """Index the batch's SURVIVORS: called only after the EL write
        succeeded, so a crash never leaves documents
        indexed-but-unwritten."""
        if self._sig is None:
            raise RuntimeError("commit() before filter_new()")
        survivors = (
            self._sig
            if self._dropped is None
            else self._sig.join(self._dropped, STORE_ID, "left_anti")
        ).withColumn("src_token", F.lit(token))
        self.write_batch(
            token,
            {
                "sigs": survivors,
                "bands": minhash_band_table(
                    survivors, STORE_ID, self.k, self.bands
                ).withColumn("src_token", F.lit(token)),
            },
        )
        self.close()

    def regroup(self, name: str, df: DataFrame) -> DataFrame:
        """One row per signature / band row; the min origin token is
        kept for the probe's own-batch exclusion. Duplicate rows come
        only from a retry re-committing an absorbed batch."""
        if name == "sigs":
            return df.groupBy(STORE_ID).agg(
                F.min("src_token").alias("src_token"),
                *[F.expr(f"min(mh{i}) AS mh{i}") for i in range(self.k)],
            )
        return df.groupBy(STORE_ID, "band_id", "band_hash").agg(
            F.min("src_token").alias("src_token")
        )

    def tree_schema(self, name: str) -> str:
        """Both trees' columns follow from the pinned ``k``."""
        if name == "sigs":
            mh = ", ".join(f"mh{i} BIGINT" for i in range(self.k))
            return f"{STORE_ID} STRING, {mh}, src_token STRING"
        return f"{STORE_ID} STRING, band_id INT, band_hash STRING, src_token STRING"

    def close(self) -> None:
        """Release the cached increment artifacts."""
        for cached in (self._sig, self._dropped):
            if cached is not None:
                cached.unpersist()
        self._sig = self._dropped = None
