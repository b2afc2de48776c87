"""graphsense_blocksci_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of graphsense/graphsense-blocksci.

The reference (v23.09) is a single-node multiprocess Python ETL driver that
exports BlockSci-parsed blockchain data into Cassandra
(reference: scripts/blocksci_export.py, scripts/schema.cql). This package
re-expresses every capability Spark-first:

- ``schemas``     — explicit StructTypes for every input/output table
                    (schema.cql:6-75) and the layout constants
                    (blocksci_export.py:35-37).
- ``fixtures``    — deterministic synthetic mini-chain generator
                    (FIXTURES.md §A) used by tests and the driver oracle.
- ``functions``   — column-expression building blocks: bucketing, hash
                    prefixes, address rendering, the coinjoin heuristic.
- ``plans``       — the ingest pipelines producing the 7 output tables,
                    the incremental (resume / previous-day / reorg-lag)
                    layer, the bounded ingest-daemon loop, and the composed
                    curation pipeline.
- ``operators``   — generic large-scale operators: window dedup, top-k,
                    as-of joins, UTXO linkage, text dedup (exact /
                    MinHash-LSH / SimHash / n-gram Jaccard), embedding
                    similarity search (brute-force / multi-probe LSH / IVF)
                    and embedding-cosine near-dup, connected components
                    (alternating large-star/small-star — multi-input
                    entity clustering), deterministic hash sampling and
                    group-safe train/test split, text analysis incl.
                    BPE-ish token counting, multimodal columns.
- ``sources``     — table registry over the parquet fixtures; sink writers
                    that emulate the Cassandra (partition key, clustering
                    order) layout in partitioned parquet; catalog DDL
                    bootstrap (create_keyspace.py parity).
- ``streaming``   — Structured Streaming variant of the ingest daemon
                    (docker/ingest.sh continue/previous-day loop):
                    checkpoint ≙ high-water mark, watermark ≙ previous-day
                    cutoff, the file sink's exactly-once log ≙ PK-upsert
                    retry;
                    watermarked streaming dedup; stateful sessionizer with
                    idle-timeout flush; streaming ANN (stream-static LSH
                    index join, exact per-batch top-k).
- ``queries``     — the driver-contract registry: every operator as a
                    (Spark callable, DuckDB oracle SQL) pair over the
                    testdata tables.

Everything here derives from public knowledge only: the Apache Spark API,
the reference repo, and the published BlockSci paper (Kalodner et al.,
USENIX Security 2020).
"""

__version__ = "0.1.0"
