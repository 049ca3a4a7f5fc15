"""T5/T6 — the vector index: idempotent upsert + doc-scoped top-k query.

Reference: chunks+vectors are upserted under a deterministic doc_id
(sha256 of file_hash + adapter configs + chunk params,
sdk1/index.py:460-516), probed before write, delete-then-add on
reindex (index.py:223-375); queries are top-k cosine with a doc_id
equality filter and score>0 cutoff (index.py:65-131).

Spark-first: the index is a table partitioned by doc_id prefix;
upsert = overwrite-by-key MERGE (same contract as sinks/history —
Delta MERGE at cluster scale); the probe is an existence check on the
deterministic key, which is what makes re-runs idempotent. Retrieval
is the J4 join from operators/retrieval, scoped by the doc_id filter
(partition pruning makes the per-document query touch one partition).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unstract_spark.schemas import CHUNKS
from unstract_spark.session import empty_frame
from unstract_spark.sinks.ledger_lock import LedgerLock
from unstract_spark.sinks.vector_db import VectorStoreBackend


class VectorIndexStore(VectorStoreBackend):
    """Chunk/vector index with deterministic-id idempotent upserts —
    the in-engine parquet backend of the VectorStoreBackend contract
    (sinks/vector_db.py defines the interface; JdbcVectorStore is the
    pgvector-shaped external backend)."""

    STATS_TABLE = "vector_index"
    STATS_COLUMN = "doc_id"

    def __init__(
        self, spark: SparkSession, path: str, backend="swap", stats=None
    ):
        """`backend`: "swap", "manifest" (POSIX put-if-absent), or a
        `manifest.CommitBackend` instance (pluggable commit log, e.g.
        object-store conditional PUT).

        `stats`: optional `stats_store.TableStatsStore` — the same
        planner seam as FileHistoryStore: every upsert re-ANALYZEs the
        index's doc_id column, and the idempotence-probe anti-join
        (incoming vs the persisted id set) takes the stats-priced
        shape (broadcast the analyzed index ids when the persisted
        bound fits, hot-key split when one doc_id dominates, shuffle
        otherwise). The reindex branch keeps the default plan — there
        the analyzed table is the PROBE side and the per-run incoming
        frame has no stats to price."""
        self.spark = spark
        self.path = path
        self.stats = stats
        from unstract_spark.sinks.manifest import CommitBackend, ManifestTable

        if isinstance(backend, CommitBackend):
            self._manifest = ManifestTable(spark, path, commit_backend=backend)
        elif backend == "manifest":
            self._manifest = ManifestTable(spark, path)
        elif backend == "swap":
            self._manifest = None
        else:
            raise ValueError(f"unknown ledger backend {backend!r}")

    def read(self) -> DataFrame:
        if self._manifest is not None:
            # immutable segments: snapshot is stable without pinning
            return self._manifest.snapshot(CHUNKS)[1]
        if not os.path.exists(self.path):
            return empty_frame(self.spark, CHUNKS)
        return self.spark.read.parquet(self.path).localCheckpoint(eager=True)

    def read_chunks(self) -> DataFrame:
        return self.read()

    def existing_doc_ids(self) -> DataFrame:
        return self.read().select("doc_id").distinct()

    def upsert(self, chunks: DataFrame, reindex: bool = False) -> int:
        """Idempotent index write.

        Default: skip doc_ids already present (the reference's
        query-before-write probe). reindex=True: delete-then-add for
        incoming doc_ids (index.py:408-418). Returns rows written.
        At scale this is `MERGE ... WHEN NOT MATCHED INSERT` / a
        replaceWhere partition overwrite on Delta.
        """

        def merge_fn(current: DataFrame, incoming_chunks: DataFrame):
            if reindex:
                keep = current.join(
                    incoming_chunks.select("doc_id").distinct(),
                    "doc_id",
                    "left_anti",
                )
                incoming = incoming_chunks
            else:
                keep = current
                ids = current.select("doc_id").distinct()
                if self.stats is not None and self.stats.has_stats(
                    self.STATS_TABLE, self.STATS_COLUMN
                ):
                    plan = self.stats.plan_against_unknown(
                        self.STATS_TABLE, self.STATS_COLUMN
                    )
                    incoming = self.stats.apply_using_join(
                        incoming_chunks, ids, ["doc_id"], plan,
                        "left_anti",
                    )
                else:
                    incoming = incoming_chunks.join(
                        ids, "doc_id", "left_anti"
                    )
            return keep.unionByName(incoming), incoming

        if self._manifest is not None:
            # lock-free optimistic commit (sinks/manifest.py): a lost
            # race re-runs merge_fn against the fresh snapshot, so the
            # idempotence probe composes with concurrent writers
            written: dict = {}

            def manifest_merge(current, inc):
                merged, incoming = merge_fn(current, inc)
                written["incoming"] = incoming
                return merged

            self._manifest.merge(chunks, manifest_merge, CHUNKS)
            self._analyze()
            return written["incoming"].count()

        with LedgerLock(self.path):
            merged, incoming = merge_fn(self.read(), chunks)
            staging = f"{self.path}.staging-{int(time.time() * 1000)}"
            merged.write.mode("overwrite").parquet(staging)
            # Swap order matters: the live path must never be absent. Move
            # the old dir aside, rename staging into place, and only then
            # delete the old copy — a crash between steps leaves a usable
            # index at either the canonical or the .old path (same order
            # as sinks/history.merge). The read-modify-swap runs under
            # LedgerLock so concurrent upserts serialize instead of
            # basing on the same snapshot and losing rows.
            old = None
            if os.path.exists(self.path):
                old = f"{self.path}.old-{int(time.time() * 1000)}"
                os.rename(self.path, old)
            os.rename(staging, self.path)
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)
            n = incoming.count()
        self._analyze()
        return n

    def _analyze(self) -> None:
        """ANALYZE-on-write (the FileHistoryStore convention): refresh
        the index's persisted doc_id stats after each commit so the
        next upsert's probe join is priced from disk."""
        if self.stats is not None:
            self.stats.analyze(
                self.read(), self.STATS_TABLE, [self.STATS_COLUMN]
            )

    def _chunks_for_doc(self, doc_id: str) -> DataFrame:
        """The doc_id equality filter prunes to one partition-worth of
        chunks before any scoring (query_topk itself — rounding, score>0
        cutoff, chunk_no tie-break — is shared in VectorStoreBackend)."""
        return self.read().filter(F.col("doc_id") == doc_id)


def embed_chunks(
    chunks: DataFrame,
    text_col: str = "chunk_text",
    embed_factory=None,
) -> DataFrame:
    """T4 plumbing: attach embeddings via Arrow-batched mapInPandas.

    `embed_factory() -> (list[str] -> ndarray)` builds the per-task
    batch embedder (lazy init, like the LLM controller). Default is the
    deterministic mock; a real provider is
    `lambda: providers.OpenAICompatibleEmbedding(...).embed_batch`
    (reference fan-out: sdk1/embedding.py:137-196, 9 providers).

    Note: mapInPandas produces a NEW set of column attributes — refer
    to the output's columns via F.col("name"), never via the input
    DataFrame's attributes (that raises MISSING_ATTRIBUTES).
    """
    import pandas as pd

    from unstract_spark.mock import mock_embed_texts

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields)
    out_schema = fields + ", embedding array<float>"

    def run(batches):
        embed = embed_factory() if embed_factory is not None else mock_embed_texts
        for pdf in batches:
            emb = embed(pdf[text_col].fillna("").tolist())
            out = pdf.copy()
            out["embedding"] = [v.tolist() for v in emb]
            yield out

    return chunks.mapInPandas(run, schema=out_schema)
