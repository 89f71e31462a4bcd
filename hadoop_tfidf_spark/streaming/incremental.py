"""Incremental TF-IDF statistics maintenance — SURVEY.md §7 step 6: the
streaming form of document frequency kept in a persistent stats table via
``foreachBatch`` micro-batch upsert.

Each micro-batch of new documents contributes its per-word distinct-doc
counts; the merge aggregates them into the running ``(word, df)`` table
plus a 1-row ``(num_docs, last_batch_id)`` side table, from which idf is
derivable at query time — so TF-IDF scoring stays current without
recomputing the corpus.

Storage & commit protocol: each merge writes a complete new *generation*
directory ``{stats_dir}/gen=<batch_id>/`` containing the ``df``, ``meta``
and ``seen`` tables, staged under ``{stats_dir}/_staging_<batch_id>`` and
committed with a single Hadoop ``FileSystem.rename`` — atomic on HDFS and
POSIX local filesystems, so df, num_docs/last_batch_id and the seen-doc
set can never be observed out of sync. Readers resolve the highest committed generation.
All path operations go through the Hadoop FileSystem API (``spark._jvm``),
so ``stats_dir`` may be ``file:``, ``hdfs://``, ``s3a://``, etc.; note
that on S3 the rename is copy+delete, not atomic — use a real table
format (Delta/Iceberg ``MERGE INTO``) there; the dataflow is identical.

Crash windows under foreachBatch's at-least-once contract:
- crash before the rename: the staging dir is garbage (swept on the next
  merge), committed state is untouched, and the replayed batch re-merges
  normally — no loss, no double count.
- crash after the rename: the replayed batch sees
  ``batch_id <= last_batch_id`` and is skipped — no double count.
- stale older generations left by a crash-after-rename are swept on the
  next merge; readers always take the max, so they are inert.

Re-ingestion guard (``track_seen_docs``, default on): ``num_docs`` and the
``df`` merge count each *document*, so a doc_id arriving again in a LATER
batch (an upstream replay without the same batch_id, or a restated doc)
would inflate both. Each generation therefore also carries a ``seen``
table of every ingested doc_id, and each batch is anti-joined against it
before counting — re-sent ids contribute nothing (note: identity is the
doc_id; a re-send with different text is also dropped, matching the
df-merge's "first ingest wins" semantics). ``track_seen_docs=False``
restores the leaner protocol for sources that guarantee append-only ids
(e.g. a CDC stream keyed on a surrogate id) — the guarantee becomes a hard
precondition the caller owns.

State volume: ``df`` is |vocabulary| rows and ``seen`` is |corpus| ids
(ids only — ~8 bytes per ever-seen doc, no text), so the merge stays cheap
at any corpus scale; the anti-join is a plain equi-join on a uniformly
distributed key. First-run missing-state reads are the ONLY condition
treated as empty state — transient I/O or corrupt-footer errors propagate
instead of silently zeroing the accumulated stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.literals import _local_relation

_GEN_PREFIX = "gen="
_STAGING_PREFIX = "_staging_"


class IncrementalTfidfStats:
    """Maintains ``{stats_dir}/gen=<bid>/{df,meta,seen}`` under a stream of
    new documents; ``df`` is (word, df), ``meta`` is 1 row
    (num_docs, last_batch_id), ``seen`` is (doc_id) — every ingested id
    (absent when ``track_seen_docs=False``)."""

    def __init__(
        self,
        spark: SparkSession,
        stats_dir: str,
        track_seen_docs: bool = True,
    ) -> None:
        self.spark = spark
        self.stats_dir = stats_dir.rstrip("/")
        self.track_seen_docs = track_seen_docs

    # -- Hadoop FS plumbing (works for file:, hdfs://, s3a://, ...) --------
    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self):
        return self._jpath(self.stats_dir).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def _list_generations(self) -> list[int]:
        fs = self._fs()
        root = self._jpath(self.stats_dir)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(_GEN_PREFIX):
                out.append(int(name[len(_GEN_PREFIX):]))
        return sorted(out)

    def _latest(self) -> int | None:
        gens = self._list_generations()
        return gens[-1] if gens else None

    def _sweep(self, keep: int, retain: int = 1) -> None:
        """Best-effort delete of staging leftovers and superseded
        generations. Failures are non-fatal: stale dirs are inert
        (readers take the max generation) and get retried next merge.
        ``retain`` extra generations below ``keep`` survive each sweep
        so a reader that resolved the previous generation just before
        this commit can finish its parquet scan — without it, the
        delete races in-flight readers to a FileNotFoundException. One
        generation covers a merge interval; raise it for slow readers."""
        fs = self._fs()
        root = self._jpath(self.stats_dir)
        if not fs.exists(root):
            return
        gens = self._list_generations()
        older = sorted(g for g in gens if g < keep)
        keep_set = {g for g in gens if g >= keep}
        if retain:
            keep_set |= set(older[-retain:])
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            doomed = name.startswith(_STAGING_PREFIX) or (
                name.startswith(_GEN_PREFIX)
                and int(name[len(_GEN_PREFIX):]) not in keep_set
            )
            if doomed:
                try:
                    fs.delete(st.getPath(), True)
                except Exception:
                    pass

    # -- state access ------------------------------------------------------
    def df_table(self, gen: int | None = None) -> DataFrame:
        """(word, df) at generation ``gen`` (default: latest). Readers
        combining several tables should resolve ``_latest()`` ONCE and
        pass it to every accessor (as :meth:`idf` does) so a concurrent
        merge commit can't be observed half-applied across tables."""
        if gen is None:
            gen = self._latest()
        if gen is None:
            return _local_relation(self.spark, [], "word STRING, df BIGINT")
        return self.spark.read.parquet(
            f"{self.stats_dir}/{_GEN_PREFIX}{gen}/df"
        )

    def seen_table(self, like: DataFrame | None = None) -> DataFrame:
        """All ever-ingested doc_ids ``(doc_id)``. Empty (typed off
        ``like``'s doc_id column, default BIGINT) on first run or when the
        latest generation predates tracking."""
        gen = self._latest()
        if gen is not None:
            p = f"{self.stats_dir}/{_GEN_PREFIX}{gen}/seen"
            if self._fs().exists(self._jpath(p)):
                return self.spark.read.parquet(p)
        if like is not None:
            return like.select("doc_id").limit(0)
        return _local_relation(self.spark, [], "doc_id BIGINT")

    def _meta(self, gen: int | None = None) -> tuple[int, int]:
        """(num_docs, last_batch_id); (0, -1) on first run."""
        if gen is None:
            gen = self._latest()
        if gen is None:
            return 0, -1
        rows = self.spark.read.parquet(
            f"{self.stats_dir}/{_GEN_PREFIX}{gen}/meta"
        ).collect()
        r = rows[0]
        return int(r.num_docs), int(r.last_batch_id)

    def num_docs(self) -> int:
        return self._meta()[0]

    def last_batch_id(self) -> int:
        return self._meta()[1]

    # -- merge -------------------------------------------------------------
    def merge_batch(self, docs_batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body: fold one micro-batch of (doc_id, text) into
        the stats tables. ``batch_id`` must be monotonically increasing
        across calls (``attach()`` supplies the stream's epoch id).
        Idempotent under at-least-once replay: a ``batch_id`` at or below
        the recorded ``last_batch_id`` is skipped."""
        total, last_applied = self._meta()
        if batch_id <= last_applied:
            return
        staging = f"{self.stats_dir}/{_STAGING_PREFIX}{batch_id}"
        if self.track_seen_docs:
            # drop ids already ingested by ANY earlier batch (the batch_id
            # check above only covers exact same-epoch replays); within-
            # batch duplicate ids are collapsed by the dropDuplicates /
            # distinct below, same as before. localCheckpoint: the
            # anti-join against the (growing) seen table feeds THREE
            # consumers below (the df merge write, new_ids.count(), the
            # seen write) — materialize it once instead of re-running
            # the join per consumer (the dedup.py house pattern).
            seen = self.seen_table(like=docs_batch)
            new_docs = docs_batch.join(
                seen, "doc_id", "left_anti"
            ).localCheckpoint()
        else:
            new_docs = docs_batch
        from hadoop_tfidf_spark.streaming.windows import streaming_term_counts

        # the same tokenize → per-doc-distinct → df definition as the
        # streaming operator — ONE definition, so a tokenization fix
        # cannot diverge the incremental stats from the stream twin
        delta = streaming_term_counts(new_docs)
        merged = (
            self.df_table()
            .unionByName(delta)
            .groupBy("word")
            .agg(F.sum("df").cast("bigint").alias("df"))
        )
        new_ids = new_docs.select("doc_id").distinct()
        total += new_ids.count()

        merged.write.mode("overwrite").parquet(f"{staging}/df")
        if self.track_seen_docs:
            # no distinct needed: `seen` is distinct by construction and
            # `new_ids` is both distinct and anti-joined against it —
            # the union is already a set (saves a shuffle per batch)
            seen.unionByName(new_ids).write.mode("overwrite").parquet(
                f"{staging}/seen"
            )
        _local_relation(
            self.spark, [(total, batch_id)], "num_docs BIGINT, last_batch_id BIGINT"
        ).write.mode("overwrite").parquet(f"{staging}/meta")
        # commit point: one rename makes df+meta visible together
        fs = self._fs()
        committed = fs.rename(
            self._jpath(staging),
            self._jpath(f"{self.stats_dir}/{_GEN_PREFIX}{batch_id}"),
        )
        if not committed:
            raise IOError(
                f"commit rename failed for batch {batch_id} "
                f"({staging} -> {_GEN_PREFIX}{batch_id})"
            )
        self._sweep(keep=batch_id)

    # -- wiring ------------------------------------------------------------
    def attach(self, doc_stream: DataFrame):
        """Attach to a streaming (doc_id, text) DataFrame; returns the
        started StreamingQuery (caller owns termination)."""
        return (
            doc_stream.writeStream.foreachBatch(
                lambda batch, bid: self.merge_batch(batch, bid)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{self.stats_dir}/_checkpoint")
            .start()
        )

    # -- derived -----------------------------------------------------------
    def idf(self) -> DataFrame:
        """Current idf per word from the maintained stats (reference
        integer-division form, TFIDF.java:163). ``num_docs`` and the df
        table are read from ONE generation snapshot — a merge committing
        between the two reads cannot yield a stale n over a newer df
        (the single-rename commit makes them visible together; this
        makes reading them atomic too)."""
        gen = self._latest()
        n = self._meta(gen)[0]
        return self.df_table(gen).select(
            "word",
            F.log10(F.lit(1.0) + F.floor(F.lit(n) / F.col("df"))).alias("idf"),
        )
