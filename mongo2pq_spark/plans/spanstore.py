"""Cross-run ExactSubstr span-hash store — the persisted index behind
``duplicated_span_removal_incremental``, on the same crash-safe core
as the near-dedup / media / inverted-index stores.

A corpus ingested in daily increments needs substring dedup against
EVERYTHING seen so far, at O(increment) cost: each increment's spans
probe the store's hash set (one equi-join), covered tokens are
removed, and the increment's own distinct span hashes are appended —
corpus text is never re-read.

Layout (one tree per collection)::

    <root>/<collection>/meta.json              pinned span/text params
    <root>/<collection>/spans/batch=<token>/   (h bigint, src_token)
    <root>/<collection>/spans/_absorbed.json   post-consolidation
                                               retry exclusion record

The batch lifecycle (pin, token partitions, recovery, the
``batch=c0`` fold) is ``plans/bandstore_core.py::BatchStore``. The
fold keeps one row per distinct hash, so absorption is recorded in
the ``_absorbed.json`` sidecar: a retry of an absorbed batch still
probes, but writes nothing.

Post-consolidation retry exclusion is EXACT (no min-src_token
ambiguity): ``batch=c0`` rows carry ``multi`` — true iff the hash
was contributed by >= 2 distinct batches. A replaying batch excludes
only hashes whose sole contributor is itself (``src_token == own AND
NOT multi``); a multi-contributor hash is genuinely historical for
any single batch and stays in its history view.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2pq_spark.plans.bandstore_core import (
    BatchStore,
    digest_batch_token,
)


class SpanHashStore(BatchStore):
    NAME = "span store"
    PIN_ARGS = ("text_col", "span_words")
    TREES = ("spans",)
    ROW_PROVENANCE = False

    def __init__(
        self,
        root: str | os.PathLike,
        collection: str,
        text_col: str = "text",
        span_words: int = 8,
    ) -> None:
        self.text_col = text_col
        self.span_words = span_words
        # layout 2: span hashes are the 60-bit hash64 (destructive
        # removal must not key on 32 bits). A layout-1 store persisted
        # 32-bit hashes that 60-bit spans would silently never match,
        # so the pin's drift check makes it fail loud instead; rebuild
        # such a store from corpus text.
        super().__init__(
            root,
            collection,
            {
                "layout": 2,
                "span_hash": "md5-60bit",
                "text_col": text_col,
                "span_words": span_words,
            },
        )

    def _token(self, df: DataFrame) -> str:
        return digest_batch_token(df, F.md5(F.col(self.text_col)))

    def _index(
        self, spark: SparkSession, own_token: str
    ) -> DataFrame:
        """History hash set EXCLUDING the probing batch's own spans:
        other batch partitions by directory, plus (post-consolidation
        retry) ``batch=c0`` rows whose ``src_token`` differs."""
        dirs = self.other_batches("spans", own_token)
        if not dirs:
            return spark.createDataFrame([], "h bigint")
        idx = spark.read.parquet(*dirs)
        return idx.filter(
            F.col("multi") | (F.col("src_token") != own_token)
        ).select("h")

    def process_increment(
        self,
        spark: SparkSession,
        df: DataFrame,
        id_col: str = "doc_id",
        with_text: bool = False,
    ) -> DataFrame:
        """Remove duplicated spans from ``df`` against the store's
        history (plus within-increment duplication), append the
        increment's distinct span hashes, and return the removal
        result ``(id, n_tokens, n_kept, clean_md5)``. Idempotent:
        a retry maps to the same content token, excludes its own
        partition (or its ``src_token`` rows after consolidation)
        from the probe, and overwrites only its own partition."""
        from mongo2pq_spark.operators.dedup import (
            duplicated_span_removal_incremental,
            span_hash_index,
        )

        token = self._token(df)
        index = self._index(spark, token)
        result = duplicated_span_removal_incremental(
            df,
            index,
            id_col=id_col,
            text_col=self.text_col,
            span_words=self.span_words,
            with_text=with_text,
        )
        self.write_batch(
            token,
            {
                "spans": span_hash_index(
                    df,
                    id_col=id_col,
                    text_col=self.text_col,
                    span_words=self.span_words,
                )
                .withColumn("src_token", F.lit(token))
                .withColumn("multi", F.lit(False))
            },
        )
        return result

    def regroup(self, name: str, df: DataFrame) -> DataFrame:
        """One row per distinct hash. ``multi``: >= 2 distinct
        contributing batches, or already marked by an earlier fold
        (re-folding c0 with new batches must not lose the flag)."""
        return df.groupBy("h").agg(
            F.min("src_token").alias("src_token"),
            (
                (F.count_distinct("src_token") > 1)
                | (F.max(F.col("multi").cast("int")) == 1)
            ).alias("multi"),
        )
