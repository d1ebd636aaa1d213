"""Streaming corpus-refresh dedup: a Structured Streaming file source
feeding foreachBatch micro-batches that probe a persisted MinHash
signature index.

This is the continuous-ingestion shape of operators/dedup.py's
minhash_lsh_pairs_incremental: document parquet files land in a drop
directory; each micro-batch

  1. signatures ONLY its own documents (one mapInPandas pass),
  2. probes the persisted signature index (band join — only buckets
     containing a batch doc produce candidates, so per-batch cost is
     O(batch), never O(corpus)),
  3. appends the surviving documents to the corpus table and their
     signatures to the index.

Duplicate rule (deterministic, order-independent within a batch): a batch
document is dropped iff it near-matches any INDEXED document (the corpus
kept that one first — index wins regardless of id order), or a LOWER-id
document of the same batch.  This is exactly what sequentially running
batch-mode dedup per arrival would produce, pinned by the
streaming-vs-batch parity test.

At 100 TB: the index is a partitioned parquet (or Delta/Iceberg) table;
appends are file-level; every drain's verify transport is the batch
operator's (dedup.verify_pairs) — broadcast while the rows fit its
budget, two hash joins beyond.

Crash semantics: foreachBatch is AT-LEAST-ONCE — an epoch that crashed
mid-batch is reprocessed on restart — so both appends are made
idempotent by anti-joining against ids already present (index first,
then corpus; index ⊇ corpus always holds because the index appends
first).  A reprocessed epoch therefore fills in exactly the missing
rows: dedup decisions are unchanged (a doc's own id never pairs with
itself, and its already-appended batch-mates now win as index docs —
the same outcome the original run chose), duplicate rows are never
written, and the sig/corpus id alignment is restored.  A real table
format (Delta/Iceberg) would replace the anti-joins with a multi-table
transaction.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp3_spark.operators import dedup as DD


@dataclass
class StreamingCorpusDedup:
    """Owns the corpus + signature-index directories and the per-batch
    dedup step.  `process_batch` is a plain (DataFrame, epoch) function so
    it is directly unit-testable and drivable from foreachBatch."""

    spark: SparkSession
    root: str
    id_col: str = "doc_id"
    text_col: str = "text"
    n: int = 3
    num_hashes: int = 128
    bands: int = 16
    threshold: float = 0.6
    stats: list = field(default_factory=list)

    @property
    def corpus_path(self) -> str:
        return os.path.join(self.root, "corpus")

    @property
    def index_path(self) -> str:
        return os.path.join(self.root, "sigs")

    @property
    def bands_path(self) -> str:
        return os.path.join(self.root, "bands")

    @property
    def checkpoint_path(self) -> str:
        return os.path.join(self.root, "_checkpoint")

    def _index_bands(self, index: DataFrame | None) -> DataFrame | None:
        """The persisted (id, band, band_key) banding of the signature
        index — lets each probe skip the O(index) banding fold (the probe
        becomes a pure column scan).  A pre-bands index (older layout)
        migrates once: derive from the signatures and persist.  Crash
        ordering below keeps bands ⊇ sigs, which the probe tolerates (a
        band row without its signature row can only produce candidates
        the verify join drops)."""
        if os.path.exists(self.bands_path):
            return self.spark.read.parquet(self.bands_path)
        if index is None:
            return None
        rows = self.num_hashes // self.bands
        DD._banded_frame(index, self.bands, rows).write.mode(
            "overwrite"
        ).parquet(self.bands_path)
        return self.spark.read.parquet(self.bands_path)

    def _index(self) -> DataFrame | None:
        # only path-absence means "no index yet"; a real read failure on an
        # existing index (corruption, FS hiccup) must raise — silently
        # treating it as empty would disable cross-batch dedup and admit
        # duplicates permanently
        if not os.path.exists(self.index_path):
            return None
        return self.spark.read.parquet(self.index_path)

    def _corpus_ids(self) -> DataFrame | None:
        if not os.path.exists(self.corpus_path):
            return None
        return self.spark.read.parquet(self.corpus_path).select(
            F.col(self.id_col).alias("__cid__")
        )

    # append file sizing: one output file per ~this many rows, per table
    # (signature rows ~2.5 KB -> ~64 MB files; doc rows similar order;
    # band rows are 24 B so they collapse to one file until ~3M rows/batch).
    # Fixes the small-files growth of the previous layout — every
    # micro-batch appended defaultParallelism (32 local) near-empty files
    # to each table, so a long-lived stream's index directory grew
    # O(batches x cores) files (guide §6: listing + per-file open overhead
    # twice per probe).  Scale-adaptive: partition count derives from the
    # batch's own row count, never from the local core count.
    SIG_ROWS_PER_FILE = 25_000
    BAND_ROWS_PER_FILE = 3_000_000

    def _out_parts(self, n_rows: int, rows_per_file: int) -> int:
        return max(1, min(
            self.spark.sparkContext.defaultParallelism,
            n_rows // rows_per_file + 1,
        ))

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        n_in = batch_df.count()
        sigs_new = DD.minhash_signatures(
            batch_df,
            self.id_col,
            self.text_col,
            n=self.n,
            num_hashes=self.num_hashes,
        ).localCheckpoint(eager=True)
        index = self._index()
        index_bands = self._index_bands(index)
        if index is not None:
            pairs = DD.minhash_lsh_pairs_incremental(
                batch_df,
                index,
                self.id_col,
                self.text_col,
                n=self.n,
                num_hashes=self.num_hashes,
                bands=self.bands,
                threshold=self.threshold,
                precomputed_sigs=sigs_new,
                index_bands=index_bands,
            ).localCheckpoint(eager=True)
            # ^ the pair frame feeds THREE derivations below (two vs-index
            # semi joins + the in-batch anti join); without materializing,
            # the band join + verify pipeline re-executes once per branch
            # (measured 7.3 s -> ~4 s per micro-batch at sf0.1)
            index_ids = index.select(F.col("id").alias("iid"))
            # batch doc x is dropped if it pairs with an index doc (either
            # endpoint — index wins regardless of id order) ...
            drop_vs_index = (
                pairs.join(index_ids, pairs.id_a == F.col("iid"), "left_semi")
                .select(F.col("id_b").alias("id"))
                .unionByName(
                    pairs.join(index_ids, pairs.id_b == F.col("iid"), "left_semi")
                    .select(F.col("id_a").alias("id"))
                )
            )
            # ... or with a lower-id doc of the same batch (id_a < id_b and
            # neither endpoint indexed => both are batch docs)
            both_ids = index_ids
            drop_in_batch = (
                pairs.join(both_ids, pairs.id_a == F.col("iid"), "left_anti")
                .join(both_ids, pairs.id_b == F.col("iid"), "left_anti")
                .select(F.col("id_b").alias("id"))
            )
            dropped = drop_vs_index.unionByName(drop_in_batch).distinct()
        else:
            # first drain: within-batch dedup only — minhash_lsh_pairs'
            # candidate + verify step over the already-materialized
            # signatures (no second shingling pass); n_in bounds their
            # rows, so the verify transport follows the same budget
            pairs = DD._minhash_sig_pairs(
                sigs_new,
                n_in,
                num_hashes=self.num_hashes,
                bands=self.bands,
                threshold=self.threshold,
            )
            dropped = pairs.select(F.col("id_b").alias("id")).distinct()
        dropped = dropped.localCheckpoint(eager=True)
        n_drop = dropped.count()  # free: counts the checkpointed blocks
        kept_docs = batch_df.join(
            dropped, batch_df[self.id_col] == dropped.id, "left_anti"
        )
        kept_sigs = sigs_new.join(dropped, "id", "left_anti")
        # idempotent appends (at-least-once reprocessing — see module
        # docstring): only rows whose ids are not already present land.
        # Index append FIRST so index ⊇ corpus holds across crashes.
        if index is not None:
            kept_sigs = kept_sigs.join(
                index.select("id"), "id", "left_anti"
            )
        cids = self._corpus_ids()
        if cids is not None:
            kept_docs = kept_docs.join(
                cids, F.col(self.id_col) == F.col("__cid__"), "left_anti"
            )
        # materialize the kept signatures ONCE: they feed two appends (the
        # banding explode + their own write) — without this the
        # anti-join chain above re-executes per consumer
        kept_sigs = kept_sigs.localCheckpoint(eager=True)
        n_kept = kept_sigs.count()  # free: checkpointed
        # bands append FIRST so bands ⊇ sigs ⊇ corpus holds across crashes
        # (each table's anti-join makes its own append idempotent; a kept
        # doc only ever matches HIGHER batch ids, so reprocessing an epoch
        # whose bands landed but sigs did not reaches the same decisions)
        kept_bands = DD._banded_frame(
            kept_sigs, self.bands, self.num_hashes // self.bands
        )
        if index_bands is not None:
            kept_bands = kept_bands.join(
                index_bands.select("id"), "id", "left_anti"
            )
        kept_bands.coalesce(
            self._out_parts(n_kept * self.bands, self.BAND_ROWS_PER_FILE)
        ).write.mode("append").parquet(self.bands_path)
        kept_sigs.coalesce(
            self._out_parts(n_kept, self.SIG_ROWS_PER_FILE)
        ).write.mode("append").parquet(self.index_path)
        kept_docs.coalesce(
            self._out_parts(max(n_in - n_drop, 1), self.SIG_ROWS_PER_FILE)
        ).write.mode("append").parquet(self.corpus_path)
        self.stats.append(
            {"epoch": int(epoch_id), "rows_in": n_in, "dropped": n_drop}
        )

    def start(
        self,
        input_path: str,
        schema_ddl: str,
        *,
        available_now: bool = True,
    ):
        """Attach to a drop directory and start the query.  availableNow
        drains everything present then stops (the batch-backfill trigger);
        pass False for a continuously-running micro-batch query."""
        stream = self.spark.readStream.schema(schema_ddl).parquet(input_path)
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_path)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
