"""Persisted near-dup signature index for INCREMENTAL corpus ingest.

The batch dedup operators (:mod:`aligned_spark.operators.dedup`)
answer "dedup this corpus against itself". A daily pipeline needs the
other question: "which of today's documents are near-dups of anything
ALREADY ingested?" — without re-banding a 100 TB history every day.

This source persists the banded MinHash signature table
``(band_id, band_hash, id)`` — a few tens of bytes per document, not
the text — and anti-joins each new batch's bands against it. The
decision rule is exactly LSH banding (a new doc is a duplicate iff it
shares ANY (band_id, band_hash) bucket with history), i.e. the same
candidate rule the batch ``minhash_near_dup_pairs`` uses before
verification; at index scale carrying shingles for verify would mean
storing the corpus, so banding IS the rule here (tune
``num_hashes``/``bands`` for the precision/recall point).

Scale shape: the index is hive-partitioned by ``band_id`` so the
daily anti-join prunes to matching band partitions and shuffles only
(band_id, band_hash, id) triples. ``ingest`` appends the SURVIVORS'
bands, keeping the index consistent without rewrites.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aligned_spark.functions.hash_family import hash_family
from aligned_spark.operators.dedup import _band_rows


@dataclass
class DedupIndexSource:
    path: str
    id_col: str = "doc_id"
    text_col: str = "text"
    num_hashes: int = 32
    bands: int = 8
    shingle_width: int = 3
    impl: str = "arrow"

    def __post_init__(self) -> None:
        # an unknown impl fails here, not after ingest's first job
        hash_family(self.impl)

    def _bands_of(self, docs: DataFrame) -> DataFrame:
        return _band_rows(
            docs,
            self.id_col,
            self.text_col,
            self.num_hashes,
            self.bands,
            self.shingle_width,
            impl=self.impl,
        )

    def overwrite(self, docs: DataFrame) -> None:
        """(Re)build the index from a full history corpus."""
        (
            self._bands_of(docs)
            .write.partitionBy("band_id")
            .mode("overwrite")
            .parquet(self.path)
        )

    def _read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def _exists(self) -> bool:
        # local-path check suffices here; on object stores swap for a
        # FileSystem.exists call through the JVM Hadoop API
        return os.path.exists(self.path)

    def duplicate_ids(self, docs: DataFrame) -> DataFrame:
        """Ids in ``docs`` sharing any band bucket with history.
        An index that does not exist yet has no duplicates."""
        spark = docs.sparkSession
        if not self._exists():
            return spark.createDataFrame(
                [], f"{self.id_col} {docs.schema[self.id_col].dataType.simpleString()}"
            )
        new_bands = self._bands_of(docs)
        hist = self._read(spark)
        return (
            new_bands.join(hist, on=["band_id", "band_hash"], how="leftsemi")
            .select(self.id_col)
            .distinct()
        )

    def filter_new(self, docs: DataFrame) -> DataFrame:
        """Rows of ``docs`` that are NOT near-dups of history."""
        if not self._exists():
            return docs
        return docs.join(
            self.duplicate_ids(docs), on=self.id_col, how="left_anti"
        )

    def ingest(self, docs: DataFrame) -> DataFrame:
        """Filter a batch against history, append the survivors'
        bands to the index, return the surviving rows.

        The survivor frame is EAGERLY checkpointed before the append:
        its anti-join reads the index, so a lazy plan re-executed
        after the append would see the batch's own freshly-written
        bands and match every survivor against itself (PERF.md
        iterative-job trap). ``localCheckpoint`` pins the pre-append
        result and cuts the lineage; a multi-tenant deployment would
        use a reliable checkpoint dir instead."""
        exists = self._exists()
        survivors = self.filter_new(docs).localCheckpoint(eager=True)
        (
            self._bands_of(survivors)
            .write.partitionBy("band_id")
            .mode("append" if exists else "overwrite")
            .parquet(self.path)
        )
        return survivors
