"""Streaming exact deduplication — the streaming face of
`operators/text_dedup.exact_dedup`.

A training-data ingest daemon sees the same document again and again
(re-crawls, mirror feeds, retried uploads). Batch dedup re-scans the
corpus; the streaming form drops repeats AS THEY ARRIVE using Spark's
native `dropDuplicatesWithinWatermark`: state is keyed by content hash
and expired by the event-time watermark, so the store holds only the
hashes seen within the lateness window — bounded, unlike a forever
`dropDuplicates` whose state grows with the corpus.

Spark-first: no custom state machine — the built-in operator already
implements keyed state + watermark eviction + checkpoint recovery; we
only supply the key (a 128-bit md5 of normalized content, the same
canonicalization the batch dedup uses, so batch and stream agree on
what "same document" means).

Scale shape: one shuffle on the uniform content hash; state size is
|distinct hashes per watermark window|; checkpointing makes redelivery
effectively-once (reference analog: PK upsert + retry,
blocksci_export.py:132-142).

The two near-duplicate pair emitters below (`lsh_pairs_stream`,
`simhash_pairs_stream`) keep Python state: each emits a pair once,
when its later member arrives, by matching it against the ids its
bucket already holds — a join of new rows to stored ones that no
declared streaming aggregate expresses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphsense_blocksci_spark.operators.textops import normalize_text


def content_hash(text_col: str = "text") -> Column:
    """128-bit md5 of whitespace-normalized lowercase content — the
    batch `exact_dedup` key, shared so stream and batch dedup agree."""
    return F.md5(normalize_text(text_col))


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop re-arrivals of the same content within the watermark window.

    `docs` is a STREAMING frame with an event-time column `ts_col`.
    The first arrival of each content hash passes through; later
    copies inside the watermark window are dropped; state for hashes
    older than the watermark is evicted (a copy arriving later than
    the lateness bound is treated as new — the documented trade of
    bounded state)."""
    return (
        docs.withColumn("_content_hash", content_hash(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_hash"])
    )


def curate_stream(
    docs: DataFrame,
    keep_langs: tuple[str, ...] = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """The curation pipeline's STREAMING face: arriving documents are
    deduped against the watermark window, then quality-gated and
    language-filtered — so a crawl feed lands already curated instead
    of being re-curated batch-wise each day.

    Spark-first composition: the curation signals are APPENDED as pure
    per-row columns (`curation_columns`), so the stateless stages
    stream for free with NO joins — the keyed frames the batch
    `quality_score`/`language_id` return would self-join as
    stream-stream here. The only stateful stage is the native
    watermark dedup. One declarative DAG, two execution modes —
    mirroring plans/curate.py (parity pytest-pinned).
    """
    from graphsense_blocksci_spark.operators.text_analysis import (
        curation_columns,
    )

    deduped = dedup_stream(docs, text_col, ts_col, watermark)
    scored = curation_columns(deduped, text_col)
    return scored.filter(
        F.col("quality_ok") & F.col("lang_pred").isin(*keep_langs)
    ).select(id_col, ts_col, "n_tokens", "lang_pred")


def lsh_pairs_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """STREAMING banded MinHash-LSH candidate-pair discovery — the
    stateful face of `operators/text_dedup.minhash_lsh_pairs`, for the
    ingest daemon that must flag "this new document near-duplicates
    something already ingested" AS DOCUMENTS ARRIVE instead of
    re-running the batch join over the whole corpus.

    Pipeline on the stream: the Arrow shingle pass and the md5
    permutation MinHash run as pure PROJECTIONS (per-row
    `array_min(transform(...))` — no streaming aggregation, so no
    watermark requirement; the interpreted-HOF cost the batch path
    avoids is the price of per-row signatures, and it is per-arriving-
    document, not per-corpus). Band keys explode exactly like the
    batch operator; rows shuffle to their (band, key) state bucket,
    where the store keeps the bucket's member ids and each batch
    emits ONLY the new (old, new) pairs. Emission is AT MOST ONCE PER
    SHARED BUCKET (state is per (band, key), so a pair agreeing in N
    bands is emitted up to N times, when its later member arrives);
    a `.distinct()` on the sink restores the batch operator's
    cross-bucket-deduped pair set — consumers counting emissions must
    apply it, exactly as qd37 and the pytest gate do.

    Parity contract: a single availableNow batch emits precisely the
    batch operator's pair set (the qd37 gate compares against the q36
    SQL oracle); across many micro-batches the union of emissions is
    the same set (pytest-pinned). State per bucket is its member-id
    list; `max_bucket` freezes a bucket once it exceeds the cap (no
    further emission) — the streaming analog of the batch drop, since
    already-emitted pairs cannot be retracted.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from graphsense_blocksci_spark.operators.text_dedup import (
        LSH_BAND_ROWS,
        MINHASH_COEFFS,
        MINHASH_PERMS,
        MINHASH_PRIME,
    )
    from graphsense_blocksci_spark.operators.textops import (
        shingle_hash_frame,
    )

    sh = shingle_hash_frame(docs, text_col, id_col)

    def _perm(a: int, b: int):
        # closure factory: a default-arg lambda would read as a 3-ary
        # HOF callback to Spark's arity inspection
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)

    sig_cols = [
        F.array_min(F.transform(F.col("_sh"), _perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:MINHASH_PERMS])
    ]
    sigs = sh.filter(F.size("_sh") > 0).select(
        F.col(id_col).cast("long").alias("doc_id"), *sig_cols
    )
    n_bands = MINHASH_PERMS // LSH_BAND_ROWS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{b * LSH_BAND_ROWS + r}")
                                for r in range(LSH_BAND_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )

    out_type = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
        ]
    )
    state_type = T.StructType(
        [T.StructField("ids", T.ArrayType(T.LongType()))]
    )
    cap = max_bucket

    def fn(key, pdfs, state: GroupState):
        members = list(state.get[0]) if state.exists else []
        seen = set(members)
        if cap is not None and len(members) > cap:
            # frozen bucket: keep state, emit nothing
            for _ in pdfs:
                pass
            return
        incoming = []
        for pdf in pdfs:
            for x in pdf["doc_id"]:
                xi = int(x)
                if xi not in seen:
                    seen.add(xi)
                    incoming.append(xi)
        pairs_a, pairs_b = [], []
        for x in sorted(incoming):
            for m in members:
                if m != x:
                    pairs_a.append(min(m, x))
                    pairs_b.append(max(m, x))
            members.append(x)
        state.update((members,))
        if cap is not None and len(members) > cap:
            # crossed the cap this batch: the batch operator would have
            # dropped the whole bucket — stop future emission
            yield pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
            return
        if pairs_a:
            yield pd.DataFrame({"id_a": pairs_a, "id_b": pairs_b})

    return bands.groupBy("band", "key").applyInPandasWithState(
        fn,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def simhash_pairs_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """STREAMING SimHash candidate-pair discovery — the stateful face
    of `operators/text_dedup.simhash_hamming_join`, same contract as
    `lsh_pairs_stream` above (at most once per shared (block, value)
    bucket when the later member arrives — a pair agreeing in several
    blocks emits once per block; `.distinct()` on the sink restores
    the batch pair set): the 32-bit frequency-weighted
    simhash and its d+1 pigeonhole block keys are pure stream
    projections; rows shuffle to their (block, value) state bucket.
    Emitted pairs are CANDIDATES — the consumer verifies the XOR
    popcount against the signatures exactly as the batch operator
    does (the qd38 gate re-derives batch signatures for the verify,
    then must match q159's brute-force oracle)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from graphsense_blocksci_spark.operators.text_dedup import simhash

    sigs = simhash(docs, text_col, id_col, bits=bits)
    nb = max_hamming + 1
    width = bits // nb
    block_structs = []
    for i in range(nb):
        lo = i * width
        w = bits - lo if i == nb - 1 else width
        mask = (1 << w) - 1
        block_structs.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), lo)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
        )
    keyed = sigs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.array(*block_structs)).alias("bv"),
    ).select("doc_id", F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val"))

    out_type = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
        ]
    )
    state_type = T.StructType(
        [T.StructField("ids", T.ArrayType(T.LongType()))]
    )
    cap = max_bucket

    def fn(key, pdfs, state: GroupState):
        members = list(state.get[0]) if state.exists else []
        seen = set(members)
        if cap is not None and len(members) > cap:
            for _ in pdfs:
                pass
            return
        incoming = []
        for pdf in pdfs:
            for x in pdf["doc_id"]:
                xi = int(x)
                if xi not in seen:
                    seen.add(xi)
                    incoming.append(xi)
        pairs_a, pairs_b = [], []
        for x in sorted(incoming):
            for m in members:
                if m != x:
                    pairs_a.append(min(m, x))
                    pairs_b.append(max(m, x))
            members.append(x)
        state.update((members,))
        if cap is not None and len(members) > cap:
            return
        if pairs_a:
            yield pd.DataFrame({"id_a": pairs_a, "id_b": pairs_b})

    return keyed.groupBy("blk", "val").applyInPandasWithState(
        fn,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
