"""Large-scale text deduplication operators (training-data pipeline).

All-native Spark plans (no Python UDFs): hashing is md5-based so results
are engine-portable and deterministic; every operator returns a DataFrame
and composes with the record-linkage pipeline. Designed for the 100 TB
path: shingling is an explode (map-side), MinHash and SimHash are each one
partial-aggregable groupBy per document, and LSH candidates come from one
groupBy on (band, signature) — a shuffle key that salts naturally because
the signature space is wide.

Words are the single-space split of the text (``split(text, ' ')``, the
oracle SQL's ``string_split(text, ' ')``): a tab or newline stays inside
its word, and a doubled, leading or trailing space yields an empty word.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full-content duplicate groups: fingerprint, representative, members."""
    return (
        df.withColumn("fingerprint", F.md5(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative"),
            F.count("*").alias("n_copies"),
            F.array_sort(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("n_copies") > 1)
    )


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles per document (explode, no shuffle).

    Words split on single spaces (module docstring); documents with fewer
    than ``size`` words have no shingles.
    """
    words = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("w")
    ).filter(F.size("w") >= size)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - (size - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("w"), i + off) for off in range(size)]
        ),
    )
    return words.select(
        "doc", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def minhash_signatures(
    shingled: DataFrame, n_hashes: int = 32
) -> DataFrame:
    """Per-doc minwise md5 hashes as columns ``mh0 … mh{n_hashes-1}``.

    One partial-aggregable groupBy(doc) holding one min per seed: no
    n_hashes× seed explode and no per-(doc, seed) shuffle.
    """
    return shingled.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(str(s)), "shingle"))).alias(
                f"mh{s}"
            )
            for s in range(n_hashes)
        ]
    )


def lsh_candidates(
    signatures: DataFrame, n_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidates.

    A band's signature concatenates its ``n_hashes // bands`` minhashes in
    seed order. Pairs come from ONE groupBy(band, sig): each bucket's
    sorted doc list expands to its ``id1 < id2`` pairs (posexplode +
    slice), so the signature plan runs once instead of once per side of a
    self-join; per-bucket output is bounded by the bucket size, as the
    join's per-key output was.
    """
    if n_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}): the "
            "leftover minhashes would form a short band that buckets far "
            "more pairs than the others"
        )
    rows = n_hashes // bands
    mh = [f"mh{s}" for s in range(n_hashes)]
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*mh[lo : lo + rows]).alias("sig"),
            )
            for b, lo in enumerate(range(0, n_hashes, rows))
        ]
    )
    banded = signatures.select(
        "doc", F.explode(band_sigs).alias("bs")
    ).select("doc", "bs.band", "bs.sig")
    groups = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        groups.select(F.posexplode("ids").alias("_i", "id1"), "ids")
        .select(
            "id1",
            F.explode(
                F.slice("ids", F.col("_i") + 2, F.size("ids"))
            ).alias("id2"),
        )
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    min_jaccard: float | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, optionally verified by exact Jaccard."""
    sh = shingles(df, text_col, id_col, shingle_size)
    candidates = lsh_candidates(
        minhash_signatures(sh, n_hashes), n_hashes, bands
    )
    if min_jaccard is None:
        return candidates
    scored = ngram_jaccard(candidates, sh)
    return scored.filter(
        F.col("shared") / F.col("union_size") >= min_jaccard
    ).select("id1", "id2")


def ngram_jaccard(pairs: DataFrame, shingled: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (integer counts)."""
    counts = shingled.groupBy("doc").agg(F.count("*").alias("n_sh"))
    s1 = shingled.select(F.col("doc").alias("id1"), "shingle")
    s2 = shingled.select(F.col("doc").alias("id2"), "shingle")
    shared = (
        pairs.join(s1, "id1")
        .join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("shared"))
    )
    c1 = counts.select(F.col("doc").alias("id1"), F.col("n_sh").alias("n1"))
    c2 = counts.select(F.col("doc").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        pairs.join(shared, ["id1", "id2"], "left")
        .fillna({"shared": 0})
        .join(c1, "id1")
        .join(c2, "id2")
        .select(
            "id1",
            "id2",
            "shared",
            (F.col("n1") + F.col("n2") - F.col("shared")).alias("union_size"),
        )
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """Per-document SimHash bit-string over distinct tokens (md5 planes).

    Tokens split on single spaces (module docstring). Bit j of a token's
    value is bit ``j % 16`` of md5 hex chars ``4·(j//16)+1 … +4`` (one md5
    per token, one conv per 16 bits), so ``bits`` may be up to 128, and
    the first 16 bits do not depend on ``bits``. Bit j of the signature
    is 1 when more distinct tokens set bit j than clear it. The ``bits``
    per-bit sums are integer aggregates of one groupBy(doc) — one
    shuffle, no per-bit row explode.
    """
    if not 0 < bits <= 128:
        raise ValueError(f"bits must be in 1..128 (one md5), got {bits}")
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias(
            "t"
        ),
    )
    words = range((bits + 15) // 16)
    hv = toks.select("doc", F.md5("t").alias("_md5")).select(
        "doc",
        *[
            F.conv(F.substring("_md5", 4 * w + 1, 4), 16, 10)
            .cast("int")
            .alias(f"hv{w}")
            for w in words
        ],
    )
    sums = hv.groupBy("doc").agg(
        *[
            F.sum(
                2 * F.shiftright(F.col(f"hv{j // 16}"), j % 16).bitwiseAND(
                    F.lit(1)
                )
                - 1
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    bit = [F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(bits)]
    return sums.select("doc", F.concat(*bit).alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dups via block-permutation candidate join.

    Splits the signature into ``n_blocks`` substrings; two docs within
    ``max_hamming`` must share at least one block when
    ``max_hamming < n_blocks`` (pigeonhole) — the candidate join is an
    equi-join per block, then Hamming distance is verified natively.
    """
    sigs = simhash(df, text_col, id_col, bits)
    block_len = bits // n_blocks
    blocked = sigs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.substring(
                            "simhash", b * block_len + 1, block_len
                        ).alias("key"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("e"),
    ).select("doc", "simhash", F.col("e.blk").alias("blk"), F.col("e.key").alias("key"))
    left = blocked.select(
        F.col("doc").alias("id1"), F.col("simhash").alias("sig1"), "blk", "key"
    )
    right = blocked.select(
        F.col("doc").alias("id2"), F.col("simhash").alias("sig2"), "blk", "key"
    )
    cands = (
        left.join(right, ["blk", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sig1", "sig2")
        .distinct()
    )
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split("sig1", ""),
                F.split("sig2", ""),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )
    return cands.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id1", "id2", "hamming")
