"""Incremental (cross-snapshot) deduplication with partitioned Bloom
filters: drop documents from a NEW crawl batch whose text already
appears in a HISTORY corpus, without ever joining the history corpus
at probe time.

This is the standard shape for rolling web-crawl ingestion (each
CommonCrawl snapshot deduped against all prior snapshots): the
history is summarized ONCE into fixed-size Bloom bitmaps; every later
batch probes the bitmaps. ``exact_dedup`` (operators/dedup.py) stays
the intra-batch tool; this operator is the batch-vs-history tool.

Scale shape (100 TB lens):
- BUILD: one pass over history emitting (bucket, h1, h2) = 20 bytes
  per row (the text never leaves the scan — same digest-only shuffle
  policy as ``exact_dedup``), one groupBy(bucket) whose reducers each
  OR a fixed ``bits_per_bucket`` bitmap. The index is
  ``num_buckets × bits/8`` bytes TOTAL, independent of history size;
  size it via ``suggest_bits`` (~14.4 bits/doc for 0.1% FP). The
  bitmaps persist as a tiny (bucket, bloom) table — rebuilding is
  never needed, new snapshots OR into it.
- PROBE, broadcast mode (default; index ≤ a few GB — 10^10 docs at
  0.1% FP is ~18 GB, at which point shard executors or use cogroup):
  the driver ORs nothing — it collects the per-bucket bitmaps once,
  ``sc.broadcast``s them, and membership is a shuffle-free
  Arrow-batched mapInPandas projection over the new batch.
- PROBE, cogroup mode (index too big to broadcast): new-batch keys
  (bucket, h1, h2, id) — ~28 bytes/row — cogroup with the index on
  bucket; each bitmap crosses the shuffle once per bucket, never per
  probe row. (A plain equi-join would materialize the megabyte bitmap
  into EVERY probe row's Arrow batch — that formulation is the trap
  this mode exists to avoid.) Sizing: cogroup materializes ONE
  bucket's probe keys per task (~28 B x new_rows/num_buckets), so
  pick num_buckets such that new_rows/num_buckets fits an executor —
  num_buckets trades bitmap granularity against per-task probe
  memory. The index BUILD has no such constraint (it streams).

False positives: a Bloom hit may be wrong (rate set by sizing; never
false NEGATIVES — a true duplicate is always flagged). Flagged rows
carry ``maybe_dup=true``; ``incremental_dedup(..., exact_confirm=
history)`` re-checks ONLY the flagged rows against history digests
(a join whose left side is the small flagged subset).
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    from pyspark.sql import Column, DataFrame

__all__ = [
    "suggest_bits",
    "build_bloom_index",
    "merge_bloom_indexes",
    "bloom_probe",
    "incremental_dedup",
    "incremental_near_pairs",
    "incremental_near_dedup",
    "snapshot_novelty",
]


def suggest_bits(n_docs: int, fp_rate: float = 0.001) -> int:
    """Total bitmap bits for ``n_docs`` at ``fp_rate`` (m = -n ln p /
    ln^2 2; pair with k = round(m/n * ln 2) hashes)."""
    return max(64, int(-n_docs * math.log(fp_rate) / (math.log(2) ** 2)))


def _keys(df: "DataFrame", text_col: str, num_buckets: int):
    """(bucket, h1, h2) columns from the text digest. h1/h2 are two
    independently-seeded xxhash64 streams; bit positions derive from
    double hashing (h1 + i*h2) so every k is two JVM hash calls."""
    from pyspark.sql import functions as F

    h1 = F.xxhash64(F.col(text_col))
    h2 = F.xxhash64(F.col(text_col), F.lit(1))
    return F.pmod(h1, F.lit(num_buckets)).cast("int").alias("bucket"), \
        h1.alias("h1"), h2.alias("h2")


def _positions(h1, h2, num_hashes: int, m_bits: int):
    """numpy uint64 double-hashing bit positions, shape (rows, k)."""
    import numpy as np

    a = np.asarray(h1, dtype=np.int64).astype(np.uint64)[:, None]
    b = np.asarray(h2, dtype=np.int64).astype(np.uint64)[:, None]
    i = np.arange(num_hashes, dtype=np.uint64)[None, :]
    return ((a + i * b) % np.uint64(m_bits)).astype(np.int64)


def build_bloom_index(
    history_df: "DataFrame",
    text_col: str = "text",
    *,
    num_buckets: int = 64,
    bits_per_bucket: int = 1 << 20,
    num_hashes: int = 5,
) -> "DataFrame":
    """(bucket int, bloom binary) — one fixed-size bitmap per bucket.
    Deterministic: the OR of a set of digests is order-independent.

    Scale shape: the 20-byte key rows are hash-repartitioned by bucket
    and STREAMED through mapInPandas in Arrow batches, OR-ing into the
    task's fixed-size bitmaps as they flow — a groupBy.applyInPandas
    here would materialize an entire bucket's key set
    (history_rows/num_buckets rows) as ONE pandas frame and OOM the
    executor at the docstring's 10^10-doc history; task memory is now
    bounded by (buckets-per-task x bits_per_bucket/8) regardless of
    history row count."""
    import numpy as np
    import pandas as pd  # noqa: F811

    def make(batches):
        acc: dict[int, "np.ndarray"] = {}
        for pdf in batches:
            pos = _positions(
                pdf["h1"], pdf["h2"], num_hashes, bits_per_bucket
            )
            buckets = pdf["bucket"].to_numpy()
            for bkt in np.unique(buckets):
                bm = acc.get(int(bkt))
                if bm is None:
                    bm = acc.setdefault(
                        int(bkt),
                        np.zeros(bits_per_bucket // 8, dtype=np.uint8),
                    )
                flat = pos[buckets == bkt].ravel()
                np.bitwise_or.at(
                    bm, flat >> 3,
                    np.uint8(1) << (flat & 7).astype(np.uint8),
                )
        if acc:
            yield pd.DataFrame(
                {
                    "bucket": list(acc.keys()),
                    "bloom": [bm.tobytes() for bm in acc.values()],
                }
            )

    keys = history_df.select(*_keys(history_df, text_col, num_buckets))
    return keys.repartition("bucket").mapInPandas(
        make, "bucket int, bloom binary"
    )


def merge_bloom_indexes(*indexes: "DataFrame") -> "DataFrame":
    """OR several (bucket, bloom) indexes built with IDENTICAL sizing
    into one — the rolling-snapshot update: each new crawl batch is
    summarized with :func:`build_bloom_index` and merged into the
    standing index; nothing is ever rebuilt. Bitmap OR is associative,
    commutative, and idempotent, so merge order (and re-merging a
    snapshot) cannot change the result."""
    import functools

    import numpy as np
    import pandas as pd  # noqa: F811

    def orit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        acc = functools.reduce(
            np.bitwise_or,
            (np.frombuffer(b, dtype=np.uint8) for b in pdf["bloom"]),
        )
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bloom": [acc.tobytes()]}
        )

    unioned = functools.reduce(lambda a, b: a.unionByName(b), indexes)
    return unioned.groupBy("bucket").applyInPandas(
        orit, "bucket int, bloom binary"
    )


def bloom_probe(
    new_df: "DataFrame",
    index: "DataFrame",
    text_col: str = "text",
    *,
    num_buckets: int = 64,
    bits_per_bucket: int = 1 << 20,
    num_hashes: int = 5,
    mode: str = "broadcast",
    id_col: str = "doc_id",
) -> "DataFrame":
    """``new_df`` + ``maybe_dup`` boolean.

    ``mode="broadcast"``: collect the (small, fixed-size) index once,
    broadcast, and check membership as a shuffle-free projection — all
    input columns pass through untouched.

    ``mode="cogroup"``: returns ONLY (id_col, maybe_dup) — keys are
    cogrouped with the index on bucket (28-byte shuffle rows); join
    the flags back or feed them to :func:`incremental_dedup`.
    """
    import numpy as np
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F

    bucket_c, h1_c, h2_c = _keys(new_df, text_col, num_buckets)

    if mode == "broadcast":
        # one dense (num_buckets, m/8) array: buckets with no history
        # rows stay all-zero (membership correctly false)
        dense = np.zeros((num_buckets, bits_per_bucket // 8), dtype=np.uint8)
        for r in index.collect():
            dense[r["bucket"]] = np.frombuffer(r["bloom"], dtype=np.uint8)
        bc = new_df.sparkSession.sparkContext.broadcast(dense)
        with_keys = new_df.withColumns(
            {"_bk": bucket_c, "_h1": h1_c, "_h2": h2_c}
        )
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in new_df.schema.fields
        ) + ", maybe_dup boolean"
        passthru = [f.name for f in new_df.schema.fields]

        def probe(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            big = bc.value
            for pdf in batches:
                out = pdf[passthru].copy()
                if len(pdf):
                    pos = _positions(
                        pdf["_h1"], pdf["_h2"], num_hashes, bits_per_bucket
                    )
                    bks = pdf["_bk"].to_numpy()[:, None]
                    bits = big[bks, pos >> 3] & (
                        np.uint8(1) << (pos & 7).astype(np.uint8)
                    )
                    out["maybe_dup"] = np.all(bits != 0, axis=1)
                else:
                    out["maybe_dup"] = np.zeros(0, dtype=bool)
                yield out

        return with_keys.mapInPandas(probe, schema)

    if mode == "cogroup":
        keys = new_df.select(
            F.col(id_col), bucket_c, h1_c, h2_c
        )
        id_type = dict(new_df.dtypes)[id_col]

        def check(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
            if len(left) == 0:
                return pd.DataFrame(
                    {id_col: left[id_col],
                     "maybe_dup": pd.Series([], dtype=bool)}
                )
            if len(right) == 0:
                return pd.DataFrame(
                    {id_col: left[id_col], "maybe_dup": False}
                )
            bm = np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8)
            pos = _positions(left["h1"], left["h2"], num_hashes, bits_per_bucket)
            hit = np.all(
                bm[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8)) != 0,
                axis=1,
            )
            return pd.DataFrame({id_col: left[id_col], "maybe_dup": hit})

        return (
            keys.groupBy("bucket")
            .cogroup(index.groupBy("bucket"))
            .applyInPandas(check, f"{id_col} {id_type}, maybe_dup boolean")
        )

    raise ValueError(f"unknown probe mode: {mode!r}")


def incremental_dedup(
    new_df: "DataFrame",
    history_df: "DataFrame",
    text_col: str = "text",
    *,
    num_buckets: int = 64,
    bits_per_bucket: int = 1 << 20,
    num_hashes: int = 5,
    exact_confirm: bool = False,
) -> "DataFrame":
    """New-batch rows whose text is NOT in history (broadcast probe).

    ``exact_confirm=True`` re-checks Bloom hits against the history
    digest set before dropping, eliminating false positives: the
    flagged subset (small by construction) is the join's left side and
    history shuffles only 8-byte digests.
    """
    from pyspark.sql import functions as F

    index = build_bloom_index(
        history_df, text_col, num_buckets=num_buckets,
        bits_per_bucket=bits_per_bucket, num_hashes=num_hashes,
    )
    probed = bloom_probe(
        new_df, index, text_col, num_buckets=num_buckets,
        bits_per_bucket=bits_per_bucket, num_hashes=num_hashes,
    )
    keep = probed.filter(~F.col("maybe_dup")).drop("maybe_dup")
    if not exact_confirm:
        return keep
    flagged = probed.filter(F.col("maybe_dup")).drop("maybe_dup")
    hist_digests = history_df.select(
        F.xxhash64(F.col(text_col)).alias("_hd")
    ).distinct()
    rescued = (
        flagged.withColumn("_hd", F.xxhash64(F.col(text_col)))
        .join(hist_digests, "_hd", "left_anti")
        .drop("_hd")
    )
    return keep.unionByName(rescued)


def incremental_near_pairs(
    new_df: "DataFrame",
    history_df: "DataFrame | None",
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.85,
    max_words: int | None = 20_000,
    bucket_cap: int = 128,
    exact_verify: bool = False,
    history_sigs: "DataFrame | None" = None,
    persist_sigs: bool = False,
    sig_cache: list | None = None,
) -> "DataFrame":
    """(new_id, hist_id, est_jaccard[, jaccard]) matches of a NEW crawl
    batch against an already-curated HISTORY via MinHash-LSH — the
    near-dup counterpart of the Bloom exact path above (FineWeb/Dolma
    dedup each snapshot against all prior snapshots this way).

    ASYMMETRIC by construction: new-batch band rows equi-join history
    band rows, so the history NEVER self-joins — the m^2 hot-bucket
    risk of a 10^12-doc history simply cannot occur here. What can
    occur is a hot HISTORY bucket (a boilerplate template with many
    historical copies) multiplying every colliding new doc by m; those
    buckets (:func:`~html_to_document_spark.operators.dedup.hot_buckets`)
    collapse to their min-id representative — matching the
    representative carries the same near-dup information
    (signatures inside a template bucket agree on that band by
    definition), and ``exact_verify`` re-checks true shingle Jaccard
    on the surfaced pairs only.

    Pass ``history_sigs`` (an (id, minhash) frame, e.g. persisted
    parquet from a prior run) to skip re-reading history TEXT
    entirely — at scale the signature table (~520 B/doc) is the
    artifact that rolls forward, exactly like the Bloom bitmaps.
    With ``exact_verify`` the history text is joined only onto the
    surfaced candidate pairs.

    ``persist_sigs=True`` caches both signature frames (each appears
    in the band join AND the est re-join, so uncached they compute
    twice); pass ``sig_cache=[]`` alongside and unpersist after
    materializing the result — the default is OFF because a caller
    who cannot unpersist (a fire-and-forget anti-join) would
    otherwise pin two frames on the executors for the application's
    lifetime (review r5-cont4).
    """
    from pyspark.sql import functions as F

    from .dedup import (
        banded_frame,
        hot_buckets,
        minhash_est_pairs,
        minhash_signature,
        set_jaccard_col,
        word_shingles,
    )

    if history_df is None and (history_sigs is None or exact_verify):
        raise ValueError(
            "history_df may be None only with history_sigs given and "
            "exact_verify=False (signature-only matching)"
        )
    rows_per_band = num_hashes // bands
    sigs_new = minhash_signature(
        new_df, text_col, id_col, num_hashes, shingle_n, max_words=max_words
    ).select(F.col(id_col).alias("_id"), "minhash")
    if history_sigs is not None:
        sigs_hist = history_sigs.select(
            F.col(id_col).alias("_id"), "minhash"
        )
    else:
        sigs_hist = minhash_signature(
            history_df, text_col, id_col, num_hashes, shingle_n,
            max_words=max_words,
        ).select(F.col(id_col).alias("_id"), "minhash")
    if persist_sigs:
        from pyspark.storagelevel import StorageLevel

        sigs_new = sigs_new.persist(StorageLevel.MEMORY_AND_DISK)
        if sig_cache is not None:
            sig_cache.append(sigs_new)
        # caller-supplied history_sigs manage their own storage — a
        # second persist here would just double-cache the same rows
        if history_sigs is None:
            sigs_hist = sigs_hist.persist(StorageLevel.MEMORY_AND_DISK)
            if sig_cache is not None:
                sig_cache.append(sigs_hist)

    banded_new = banded_frame(sigs_new, bands, rows_per_band)
    banded_hist = banded_frame(sigs_hist, bands, rows_per_band)

    # hot-HISTORY-bucket routing: cold rows pass through, hot buckets
    # contribute only their min-id representative row
    keys = ["band_id", "band_hash"]
    hot = hot_buckets(banded_hist, keys, bucket_cap)
    hist_routed = banded_hist.join(hot, keys, "left_anti").unionByName(
        hot.select(*keys, F.col("_bmin").alias("_id"))
    )

    pairs = (
        banded_new.alias("n")
        .join(
            hist_routed.alias("h"),
            (F.col("n.band_id") == F.col("h.band_id"))
            & (F.col("n.band_hash") == F.col("h.band_hash")),
        )
        .select(
            F.col("n._id").alias("new_id"), F.col("h._id").alias("hist_id")
        )
        .dropDuplicates(["new_id", "hist_id"])
    )
    out = minhash_est_pairs(
        pairs, "new_id", "hist_id", sigs_new, sigs_hist, num_hashes,
        threshold,
    )
    if not exact_verify:
        return out
    # true shingle Jaccard on the surfaced pairs only — shingle SETS
    # join the pair frame, never each other. The shingle construction
    # (an interpreted higher-order expression) runs per DOC below the
    # joins; per-pair work is only the codegen'd intersect/union
    # (r6, guide §4.1 — measured 12x on the sf0.1 verify stage).
    nt = new_df.select(
        F.col(id_col).alias("new_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sn"),
    )
    ht = history_df.select(
        F.col(id_col).alias("hist_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    )
    return (
        out.join(nt, "new_id")
        .join(ht, "hist_id")
        .withColumn("jaccard", set_jaccard_col(F.col("_sn"), F.col("_sh")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "hist_id", "est_jaccard", "jaccard")
    )


def incremental_near_dedup(
    new_df: "DataFrame",
    history_df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> "DataFrame":
    """New-batch rows with no near-duplicate in history: anti-join of
    ``new_df`` against the ``incremental_near_pairs`` match set. The
    corpus is touched only by the signature scan and this final
    id-keyed anti-join; intra-batch near-dups are ``minhash_lsh_pairs``
    / ``dedup_clusters``' business (run them on the survivors)."""
    from pyspark.sql import functions as F

    matches = incremental_near_pairs(
        new_df, history_df, text_col, id_col, **kwargs
    )
    flagged = matches.select(
        F.col("new_id").alias(id_col)
    ).distinct()
    return new_df.join(flagged, id_col, "left_anti")


def snapshot_novelty(
    new_df: "DataFrame",
    history_df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: "str | None" = None,
    near: bool = False,
    **near_kwargs,
) -> "DataFrame":
    """Novelty report of a new crawl snapshot against history — the
    crawl-ops question behind every incremental ingest ("how much of
    this snapshot is actually new?"; CommonCrawl publishes exactly
    this overlap profile per snapshot). One row per ``group_col``
    value (a host, a language, a shard — or one 'all' row when None):

    - ``n_new``: snapshot docs in the group
    - ``n_exact_dup``: text digest already present in history
    - ``n_near_dup``: near-duplicate of history at the MinHash band
      join's threshold (``near=True``; exact dups are NOT re-counted)
    - ``n_novel``: the remainder
    - ``novelty_rate``: r4(n_novel / n_new)

    100 TB shape: the exact arm joins 8-byte digests (text never
    shuffles; history digests are distinct-reduced map-side first);
    the near arm reuses :func:`incremental_near_pairs` — the
    asymmetric band join whose history side never self-joins; both
    flag frames are id-keyed left joins onto the snapshot projection
    and the report is one map-side-combinable count aggregate."""
    from pyspark.sql import functions as F

    from html_to_document_spark.operators.text_analysis import r4

    grp = (
        F.col(group_col) if group_col is not None else F.lit("all")
    ).alias("group_key")
    base = new_df.select(F.col(id_col).alias("_nid"), grp,
                         F.xxhash64(F.col(text_col)).alias("_hd"))

    hist_digests = history_df.select(
        F.xxhash64(F.col(text_col)).alias("_hd")
    ).distinct().withColumn("_exact", F.lit(True))
    flagged = base.join(hist_digests, "_hd", "left").select(
        "_nid", "group_key",
        F.coalesce("_exact", F.lit(False)).alias("_exact"),
    )

    if near:
        matched = incremental_near_pairs(
            new_df, history_df, text_col, id_col, **near_kwargs
        ).select(F.col("new_id").alias("_nid")).distinct().withColumn(
            "_nearhit", F.lit(True)
        )
        flagged = flagged.join(matched, "_nid", "left").select(
            "_nid", "group_key", "_exact",
            (F.coalesce("_nearhit", F.lit(False)) & ~F.col("_exact"))
            .alias("_near"),
        )
    else:
        flagged = flagged.withColumn("_near", F.lit(False))

    return flagged.groupBy("group_key").agg(
        F.count("*").cast("long").alias("n_new"),
        F.sum(F.col("_exact").cast("long")).alias("n_exact_dup"),
        F.sum(F.col("_near").cast("long")).alias("n_near_dup"),
        F.sum(
            (~F.col("_exact") & ~F.col("_near")).cast("long")
        ).alias("n_novel"),
    ).select(
        "*",
        r4(F.col("n_novel") / F.col("n_new")).alias("novelty_rate"),
    )
