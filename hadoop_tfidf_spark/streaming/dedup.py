"""Incremental near-duplicate detection: a persistent MinHash-LSH band
index maintained under a document stream via ``foreachBatch`` — the
daily-ingest dedup pass of a training-data pipeline, without ever
recomputing signatures for the accumulated corpus.

Each micro-batch:

1. computes the batch's signatures ROW-LOCALLY
   (:func:`hadoop_tfidf_spark.operators.dedup.minhash_signatures_from_docs`
   — zero shuffle; a micro-batch never forks, so the aggregate path's
   exchange-reuse argument doesn't apply) and explodes them to band keys
   in the fixed 4 × 3 geometry of ``operators.dedup``;
2. joins the new band keys against the ACCUMULATED index (new-vs-old
   candidates) and against themselves (new-vs-new) — both equi-joins on
   ``(band, band_key)``, the same bucket-join shape as the batch operator,
   never O(n²);
3. appends ``batch=<id>/{bands,pairs}`` under the index directory, staged
   and committed with ONE Hadoop ``FileSystem.rename`` — atomic on
   HDFS/POSIX local filesystems; on S3 rename is copy+delete, so use a
   real table format (Delta/Iceberg) there — the dataflow is identical.

Idempotence under foreachBatch's at-least-once replay: a batch directory
that already exists is skipped (the rename either happened — replay is a
no-op — or it didn't — the staging leftovers are swept and the batch
re-runs cleanly). Storage is append-only: batch ``b``'s work is
O(|batch| + |matches|), never O(corpus), so the index scales to an
unbounded ingest history; compact old batches offline if small files
accumulate.

**Equivalence guarantee** (the declared query's strong gate): after any
partition of a corpus into batches, ``candidate_pairs()`` equals the
one-shot batch ``minhash_lsh_dedup`` pairs exactly — for docs a<b with b
arriving in batch j, the pair surfaces either in j's self-join (same
batch) or in j's new-vs-old join (a already indexed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.literals import _local_relation

_BATCH_PREFIX = "batch="
_STAGING_PREFIX = "_staging_"


class IncrementalLshIndex:
    """Maintains ``{index_dir}/batch=<bid>/{bands,pairs}`` under a stream
    of ``(doc_id, text)`` documents. Only the shingle width ``k`` is
    settable: the signature and band geometry is the batch operator's
    fixed one (12 hashes in 4 bands × 3 rows), so stored bands from every
    batch, and the batch pairs of the equivalence guarantee, share it."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        k: int = 3,
    ) -> None:
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        self.k = k

    # -- Hadoop FS plumbing (file:, hdfs://, s3a://, ...) ------------------
    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self):
        return self._jpath(self.index_dir).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def _committed_batches(self) -> list[int]:
        fs = self._fs()
        root = self._jpath(self.index_dir)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(_BATCH_PREFIX):
                out.append(int(name[len(_BATCH_PREFIX):]))
        return sorted(out)

    # -- state access ------------------------------------------------------
    def _union_read(self, sub: str, empty_schema: str) -> DataFrame:
        """Union of all committed batches' ``sub`` tables; the schema is
        inferred from the files (doc ids keep whatever type the corpus
        has) — ``empty_schema`` only shapes the no-batches-yet relation."""
        batches = self._committed_batches()
        if not batches:
            return _local_relation(self.spark, [], empty_schema)
        paths = [
            f"{self.index_dir}/{_BATCH_PREFIX}{b}/{sub}" for b in batches
        ]
        return self.spark.read.parquet(*paths)

    def bands_table(self) -> DataFrame:
        return self._union_read(
            "bands", "doc_id BIGINT, band INT, band_key BIGINT"
        )

    def candidate_pairs(self) -> DataFrame:
        """All accumulated candidate pairs ``(doc_a, doc_b)``, distinct."""
        return self._union_read("pairs", "doc_a BIGINT, doc_b BIGINT").distinct()

    # -- merge -------------------------------------------------------------
    def merge_batch(self, docs_batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Skips batches whose directory is already
        committed (at-least-once replay)."""
        from hadoop_tfidf_spark.operators.dedup import (
            lsh_bands,
            minhash_signatures_from_docs,
        )

        fs = self._fs()
        final = self._jpath(f"{self.index_dir}/{_BATCH_PREFIX}{batch_id}")
        if fs.exists(final):
            return
        # sweep staging leftovers from crashed batches OTHER than this
        # one (this batch's own dir is about to be overwritten anyway):
        # a crashed batch that is never replayed — e.g. the job restarts
        # with a fresh checkpoint and new epoch ids — would otherwise
        # orphan its _staging_* dir forever. Best-effort, like
        # IncrementalTfidfStats._sweep.
        root = self._jpath(self.index_dir)
        if fs.exists(root):
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if (
                    name.startswith(_STAGING_PREFIX)
                    and name != f"{_STAGING_PREFIX}{batch_id}"
                ):
                    try:
                        fs.delete(st.getPath(), True)
                    except Exception:
                        pass

        new_bands = lsh_bands(
            minhash_signatures_from_docs(docs_batch, k=self.k)
        ).localCheckpoint()  # computed once: feeds 3 joins + the write

        old_bands = self.bands_table()
        a = new_bands.select("band", "band_key", F.col("doc_id").alias("doc_a"))
        b_new = new_bands.select("band", "band_key", F.col("doc_id").alias("doc_b"))
        b_old = old_bands.select("band", "band_key", F.col("doc_id").alias("doc_b"))
        new_new = a.join(b_new, ["band", "band_key"])
        new_old = a.join(b_old, ["band", "band_key"])
        pairs = (
            new_new.unionByName(new_old)
            .where(F.col("doc_a") != F.col("doc_b"))
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
            .distinct()
        )

        staging = f"{self.index_dir}/{_STAGING_PREFIX}{batch_id}"
        new_bands.write.mode("overwrite").parquet(f"{staging}/bands")
        pairs.write.mode("overwrite").parquet(f"{staging}/pairs")
        if not fs.rename(self._jpath(staging), final):
            raise IOError(
                f"commit rename failed for batch {batch_id} "
                f"({staging} -> {_BATCH_PREFIX}{batch_id})"
            )

    # -- wiring ------------------------------------------------------------
    def attach(self, doc_stream: DataFrame):
        """Attach to a streaming (doc_id, text) DataFrame; returns the
        started StreamingQuery (caller owns termination)."""
        return (
            doc_stream.writeStream.foreachBatch(
                lambda batch, bid: self.merge_batch(batch, bid)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{self.index_dir}/_checkpoint")
            .start()
        )
