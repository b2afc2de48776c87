"""Streaming duplicate-sentence (boilerplate) monitor — the stateful
twin of the q221 batch scan: as documents ARRIVE, every qualifying
sentence hash folds its (distinct-doc set, occurrence count) into the
state store and each batch emits the hash's refreshed snapshot; the
ingest pipeline flags "this sentence is boilerplate" the moment its
second distinct document shows up, instead of re-scanning the corpus.

Sentence split/trim/length-filter/hash are PURE STREAM PROJECTIONS
(the q221 pipeline verbatim — split on [.!?], trim, >= 20 chars,
28-bit md5), so there is no watermark requirement; rows shuffle to
their sentence-hash state key.

State per hash: the distinct doc-id set plus the occurrence count,
so ``n_docs`` and ``n_occurrences`` stay exact at any scale and the
state is O(distinct docs per hash). Why Python state: the doc-id SET
is what makes a repeated document count once, and Spark's streaming
aggregates reject ``count(DISTINCT)``; a native
``size(collect_set(doc_id))`` form is not yet measured against it.
Emission is snapshot-per-batch with a ``seq``; consumers keep the
max-seq row per hash, and a single availableNow batch's snapshot IS
the batch q221 answer (the qd51 gate configuration).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BP_OUTPUT = T.StructType(
    [
        T.StructField("sh", T.LongType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_occurrences", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)

BP_STATE = T.StructType(
    [
        T.StructField("docs", T.ArrayType(T.LongType())),
        T.StructField("occ", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _bp_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        docs, occ, seq = state.get
        doc_set = set(docs)
    else:
        doc_set, occ, seq = set(), 0, 0
    for pdf in pdfs:
        occ += len(pdf)
        doc_set.update(int(d) for d in pdf["doc_id"])
    seq += 1
    state.update((sorted(doc_set), int(occ), int(seq)))
    yield pd.DataFrame(
        {
            "sh": [int(key[0])],
            "n_docs": [len(doc_set)],
            "n_occurrences": [int(occ)],
            "seq": [seq],
        }
    )


def _sentence_hashes(
    docs: DataFrame, text_col: str, id_col: str, min_len: int
) -> DataFrame:
    from graphsense_blocksci_spark.operators.textops import hash28

    s: Column = F.explode(F.split(F.col(text_col), r"[.!?]"))
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"), s.alias("s"))
        .select("doc_id", F.trim(F.col("s")).alias("s"))
        .filter(F.length("s") >= min_len)
        .select("doc_id", hash28(F.col("s")).alias("sh"))
    )


def duplicate_sentences_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
) -> DataFrame:
    """Apply the stateful duplicate-sentence monitor to a STREAMING
    document frame. Returns the snapshot stream
    ``(sh, n_docs, n_occurrences, seq)``; keep the max-seq row per
    hash and filter ``n_docs >= 2`` for the q221 boilerplate
    worklist. Both counts are exact; state is O(distinct docs per
    hash)."""
    keyed = _sentence_hashes(docs, text_col, id_col, min_len)
    return keyed.groupBy("sh").applyInPandasWithState(
        _bp_group,
        outputStructType=BP_OUTPUT,
        stateStructType=BP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
