"""Benchmark decontamination: n-gram overlap against an eval corpus.

Training corpora must not contain the evaluation suites they will be
scored on, so pipelines strip every document sharing a word n-gram
with the benchmark set (the GPT-3 appendix-C / Pile-style 13-gram
rule, parameterized here).

Shape at 100 TB: the corpus side is huge, the benchmark side is tiny
(eval suites are a few MB). So the overlap test must never shuffle
the corpus on shingles — here the benchmark's distinct shingle-hash
set is broadcast and the corpus side stays a pure per-row projection
(tokenize → per-row-distinct shingle hashes → explode) probed through
a BroadcastHashJoin. The only corpus-keyed shuffle is the final
per-document hit count, and `decontaminate` skips even that by using
a broadcast LEFT ANTI join. A plan regression test pins the broadcast.

Shingles reuse the exact tokenizer/shingler from textops.dedup so
decontamination, MinHash and Jaccard all agree on what an n-gram is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trainingdata_spark.textops.analysis import tokens_col
from trainingdata_spark.textops.dedup import (
    _hash64x,
    _shingle_array,
    _shingle_regex_array,
)


def _doc_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh_hash) with per-document-distinct shingle hashes.

    array_distinct runs inside the row (no shuffle) — the relation
    explodes distinct-per-doc, so downstream per-doc counts need no
    extra dedup."""
    return df.select(
        id_col,
        F.explode(
            F.transform(
                F.array_distinct(_shingle_regex_array(n, F.col(text_col))),
                _hash64x,
            )
        ).alias("sh_hash"),
    )


def benchmark_shingles(
    bench: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """The benchmark's distinct shingle-hash set — the broadcast side."""
    return (
        _doc_shingle_hashes(bench, id_col, text_col, n)
        .select("sh_hash")
        .distinct()
    )


def contamination_hits(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per contaminated document: (id, n_hits) where n_hits
    counts the distinct benchmark n-grams the document contains.

    Corpus-side plan: per-row shingle projection → broadcast hash
    probe → per-doc count. One corpus shuffle total (the count)."""
    doc_sh = _doc_shingle_hashes(docs, id_col, text_col, n)
    return (
        doc_sh.join(F.broadcast(benchmark_shingles(bench, id_col, text_col, n)), "sh_hash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents with every benchmark-overlapping row removed.

    LEFT ANTI against the broadcast benchmark shingle set keyed on the
    document id — zero corpus shuffles: shingle projection, broadcast
    probe, and the anti filter all run map-side."""
    contaminated = (
        _doc_shingle_hashes(docs, id_col, text_col, n)
        .join(
            F.broadcast(benchmark_shingles(bench, id_col, text_col, n)),
            "sh_hash",
        )
        .select(id_col)
        .distinct()
    )
    return docs.join(F.broadcast(contaminated), id_col, "left_anti")


# ------------------------------------------------------------------ bloom

# The exact probe above broadcasts the benchmark's distinct shingle
# hashes: ~8 bytes/key plus JVM hash-relation overhead (~30-50 B/key
# in practice). Fine for a few million shingles; at a 100 TB shop
# running decontamination against EVERY eval suite it ships (10^8+
# shingles), the executor-resident relation reaches GBs. The Bloom
# path compresses that to ``bits_per_key`` bits/key with ONE-SIDED
# error: a contaminated document is never kept (no false negatives by
# construction), a clean one is dropped at the false-positive rate —
# the conservative direction for training-data hygiene.
#
# SIZING — the error is per SHINGLE and a document is dropped if ANY
# of its s shingles false-positives, so the per-document rate is the
# union bound p_doc <= s * (1 - e^{-k/c})^k ~ s * 0.6185^c at the
# optimal k = 0.69c (c = bits_per_key, k = num_hashes). Measured on a
# 300-doc corpus of ~36-shingle docs: c=10/k=7 dropped 28% of clean
# docs (exactly s*p = 36 * 0.8%), c=20/k=14 dropped 0 — hence the
# c=20 default (2.5 B/key, still >10x smaller than the exact hash
# relation). For web-scale docs (s ~ 10^3) wanting p_doc <= 0.1%,
# pick c >= ln(s/p_doc)/0.48 ~ 29 bits/key — at 3.6 B/key the Bloom
# side still wins wherever the exact relation does not fit.


def build_bloom_bitmap(
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_per_key: int = 20,
    num_hashes: int = 14,
) -> tuple[list[int], int, int, int]:
    """Distributed Bloom build over the benchmark shingle set.

    Returns ``(words, m, k, n)``: the bitmap as ``m/64`` longs, the
    bit width ``m``, the hash count ``k``, and the shingle width
    ``n`` — every parameter the probe must agree on rides in the
    tuple, so a reused bitmap cannot be probed with a divergent hash
    family or n-gram width (either silently breaks the
    no-false-negative guarantee). The build never collects
    shingles — positions fold into per-word ``bit_or`` partials
    map-side and only the SET words (<= m/64 longs, sized by the
    benchmark, never the corpus) reach the driver. Two bounded
    actions: a count to size ``m`` and the word collect."""
    sh = benchmark_shingles(bench, id_col, text_col, n)
    n_keys = sh.count()
    n_words = max(1, -(-(bits_per_key * max(n_keys, 1)) // 64))
    m = n_words * 64
    pos = sh.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("sh_hash", F.lit(i)), F.lit(m))
                    for i in range(num_hashes)
                ]
            )
        ).alias("__p")
    )
    packed = (
        pos.select(
            (F.col("__p") / 64).cast("long").alias("__w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__word"))
        .collect()
    )
    words = [0] * n_words
    for r in packed:
        words[r["__w"]] = r["__word"]
    return words, m, num_hashes, n


def bloom_decontaminate(
    docs: DataFrame,
    bench: DataFrame | None = None,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_per_key: int = 20,
    num_hashes: int = 14,
    bitmap: tuple[list[int], int, int, int] | None = None,
) -> DataFrame:
    """`decontaminate` with the benchmark side compressed to a Bloom
    bitmap: removes EVERY document sharing a word ``n``-gram with the
    benchmark (no false negatives) plus a sliver of clean ones — per
    document the union bound ``s_shingles * (1-e^{-k/c})^k`` (see the
    SIZING note above; size ``bits_per_key`` to the corpus's shingle
    count per doc, not to a key-level rate).

    Corpus-side plan is pure map: the bitmap rides in as a broadcast
    single-row cross join (one array<long> column, ``m/64`` longs),
    and the probe is an `exists` over the per-row distinct shingle
    hashes testing all ``k`` bit positions via JVM getbit — no Python,
    no shuffle, no per-shingle explode. Pass ``bitmap`` (from
    :func:`build_bloom_bitmap`) to reuse one build across many corpus
    partitions/batches, in which case the bitmap's own recorded
    ``n``/``k`` govern the probe and this call's ``n``/
    ``bits_per_key``/``num_hashes`` are unused (passing both bench
    and bitmap is rejected rather than guessed about); otherwise
    ``bench`` is required and the bitmap is built here."""
    if bitmap is None:
        if bench is None:
            raise ValueError("bloom_decontaminate needs either bench or bitmap")
        bitmap = build_bloom_bitmap(
            bench, n, id_col, text_col, bits_per_key, num_hashes
        )
    elif bench is not None:
        raise ValueError(
            "bloom_decontaminate: pass bench OR bitmap, not both — a "
            "prebuilt bitmap pins its own n and hash family"
        )
    words, m, k, n = bitmap
    spark = docs.sparkSession
    bm = spark.createDataFrame([(words,)], "__bloom: array<long>")

    def _hit(h: F.Column) -> F.Column:
        checks = []
        for i in range(k):
            p = F.pmod(F.xxhash64(h, F.lit(i)), F.lit(m))
            word = F.get("__bloom", (p / 64).cast("int"))
            checks.append(F.getbit(word, (p % 64).cast("int")) == 1)
        out = checks[0]
        for c in checks[1:]:
            out = out & c
        return out

    probed = (
        docs.join(F.broadcast(bm), F.lit(True))
        .withColumn("__toks", tokens_col(F.col(text_col)))
        .withColumn(
            "__contam",
            F.coalesce(
                F.exists(
                    F.transform(
                        F.array_distinct(_shingle_array(n)), _hash64x
                    ),
                    _hit,
                ),
                F.lit(False),
            ),
        )
        .drop("__bloom")
    )
    return probed.filter(~F.col("__contam")).drop("__contam", "__toks")
