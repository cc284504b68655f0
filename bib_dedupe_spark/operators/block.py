"""Blocking stage: multi-pass candidate-pair generation as one Spark plan.

Behavioral spec: /root/reference/bib_dedupe/block.py (rule list :23-56,
pair generation :59-104, same-set pruning :127-149, title-overlap pruning
:152-198, driver :201-307).

Spark-first design (replaces the reference's 16-process pool + pandas
groupby/combinations):

  prepared records
    → key rows [ID, rule_idx, rto, key, *_CARRY]: one per blocking rule
      whose fields are all non-empty (explode, no UDF), each carrying
      the record's hashed pruning payload (:func:`_key_rows`)
    → hash-partitioned self-equi-join on (rule_idx, key) with ID_1 < ID_2
    → INLINE pruning on the join output (same stage, no extra joins):
      same-search-set rows dropped; title-overlap verdict computed as a
      boolean (applies only when every producing rule requires overlap)
    → groupBy(ID_1, ID_2): first rule by rule order, AND of the
      require-title-overlap flags, overlap verdict        (single shuffle)
    → filter(title_ok | !require)  — raw pairs never reach a record join
    → two enrichment joins against the records (survivors only)

Incremental blocking (:func:`block_delta`) uses the same key rows as its
persisted corpus index, builds the batch's key rows once for every join,
routes its within-batch pairs through the same hot-key router
(:func:`_route_pairs`), runs one prune + aggregate step over within and
crossing pairs and, for hot crossing keys, the same AllPairs generator
(:func:`_refined_hot_pairs`) probed batch→corpus and corpus→batch.

Skew handling: composite keys are explicit columns, so hot keys are
observable (:func:`blocking_key_stats`). By default
(``hot_key_strategy="salt"``) a key whose group exceeds the salt bucket
size is split over salt buckets, or for require-overlap rules routed to
the refined word join above an all-pairs volume floor
(``refine_min_quad``); either way every pair is kept, and the O(k²) work
is spread over many tasks instead of one — the reference simply eats that
cost in one process. ``hot_key_strategy="drop"`` instead drops keys above
``max_block_size`` from pair generation (bounded output, a recall risk;
nothing records the dropped keys). AQE skew-join splitting covers
residual join skew.

The NaN quirk: the reference leaves ``author_first`` as NaN for empty
authors (prep.py:241), and NaN passes its non-empty blocking filter, so
empty-author records DO block together on the remaining fields. We mirror
this with a reserved sentinel for null ``author_first``.
"""
from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bib_dedupe_spark import constants as C

# (fields, require_title_overlap); overlap required iff the rule shares no
# field with {title_short, doi, pages} (block.py:96-98). Field order within
# a key follows the reference's set-literal iteration only up to grouping
# equality — any fixed order yields identical groups.
BLOCKING_RULES = [
    ((C.AUTHOR_FIRST, C.YEAR), True),
    ((C.AUTHOR_FIRST, C.CONTAINER_TITLE_SHORT), True),
    ((C.TITLE_SHORT, C.PAGES), False),
    ((C.TITLE_SHORT, C.AUTHOR_FIRST), False),
    ((C.TITLE_SHORT, C.VOLUME), False),
    ((C.TITLE_SHORT, C.CONTAINER_TITLE_SHORT), False),
    ((C.TITLE_SHORT, C.YEAR), False),
    ((C.CONTAINER_TITLE_SHORT, C.VOLUME, C.NUMBER), True),
    ((C.CONTAINER_TITLE_SHORT, C.VOLUME, C.YEAR), True),
    ((C.CONTAINER_TITLE_SHORT, C.VOLUME, C.PAGES), False),
    ((C.CONTAINER_TITLE_SHORT, C.YEAR, C.PAGES), False),
    ((C.YEAR, C.VOLUME, C.NUMBER), True),
    ((C.YEAR, C.VOLUME, C.PAGES), False),
    ((C.YEAR, C.NUMBER, C.PAGES), False),
    ((C.DOI,), False),
    ((C.ABSTRACT,), True),
]

# sentinel standing in for the reference's NaN author_first; groups nulls
# together and passes the non-empty filter, like NaN does in pandas
_NULL_KEY = "\x00<null>"
_KEY_SEP = "\x1f"

# rules whose pairs require title-word overlap downstream (block.py:96-98)
_RTO_RULE_IDXS = frozenset(
    i for i, (_f, rto) in enumerate(BLOCKING_RULES) if rto
)


def rule_name(fields: tuple) -> str:
    return "-".join(fields)


def _key_entries_column():
    """Array column of (rule_idx, rto, key) structs, one per passing rule.

    Memoized per JVM gateway: building this Column costs ~0.5 s of py4j
    round-trips, and streaming rebuilds the blocking plan every
    micro-batch (profiled as a top per-batch fixed cost).
    """
    from bib_dedupe_spark.plancache import cached_fragment

    return cached_fragment("block._key_entries_column", _build_key_entries)


def _build_key_entries():
    entries = []
    for idx, (fields, rto) in enumerate(BLOCKING_RULES):
        parts = [F.coalesce(F.col(f), F.lit(_NULL_KEY)) for f in fields]
        non_empty = reduce(
            lambda a, b: a & b, [p != "" for p in parts]
        )
        key = F.concat_ws(_KEY_SEP, *parts)
        entries.append(
            F.when(
                non_empty,
                F.struct(
                    F.lit(idx).alias("rule_idx"),
                    F.lit(rto).alias("rto"),
                    key.alias("key"),
                ),
            )
        )
    return F.array_compact(F.array(*entries))


_CARRY = ("_th", "_sp", "_tl", "_nt", "_tokh", "_ss")


def _carry_columns():
    """Per-record pruning payload carried through the key table.

    The payload rides EVERY key row (one per passing blocking rule, up
    to 16 per record) through the heaviest shuffles of the job, so it is
    hashed down to fixed-width proxies instead of shipping the title and
    its token multiset as strings: _th = xxhash64(title) (title-equality
    exemption), _sp = title has a space (wildcard/exemption), _tl =
    title length (the both-empty case), _nt = token-multiset size (the
    prune denominator), _tokh = DISTINCT xxhash64 per token (the prune's
    shared-distinct-word count — array_intersect is set-semantics either
    way). Only the search_set string stays verbatim (short, and its
    null-propagation semantics must match the reference exactly). A
    64-bit cross-token collision flips one prune verdict with
    probability ~2^-50 at corpus scale — the same accepted trade as the
    harness token_overlap_prune query. Measured: the string payload was
    ~2× the key-row bytes and array_intersect over strings dominated the
    raw-pair stage CPU.
    """
    from bib_dedupe_spark.plancache import cached_fragment

    def _build():
        title = F.col(C.TITLE)
        tokens = F.filter(F.split(title, " "), lambda x: x != "")
        return [
            F.xxhash64(title).alias("_th"),
            title.contains(" ").alias("_sp"),
            F.length(title).alias("_tl"),
            F.size(tokens).alias("_nt"),
            F.array_distinct(
                F.transform(tokens, lambda x: F.xxhash64(x))
            ).alias("_tokh"),
            F.col(C.SEARCH_SET).alias("_ss"),
        ]

    return cached_fragment("block._carry_columns_hashed", _build)


def _key_rows(records_df: DataFrame, id_col) -> DataFrame:
    """Key rows [ID, rule_idx, rto, key, *_CARRY], one per passing rule.

    The one key-row builder of both blocking paths: the in-corpus self
    join (with ``id_col`` an xxhash64 surrogate when enabled) and the
    persisted streaming index (:func:`corpus_key_table`, string IDs).
    """
    return (
        records_df.filter(F.col(C.TITLE).isNotNull())
        .select(
            id_col.alias(C.ID),
            *_carry_columns(),
            F.explode(_key_entries_column()).alias("entry"),
        )
        .select(
            C.ID,
            F.col("entry.rule_idx").alias("rule_idx"),
            F.col("entry.rto").alias("rto"),
            F.col("entry.key").alias("key"),
            *_CARRY,
        )
    )


def _sided(df: DataFrame, side: str, cols: tuple) -> DataFrame:
    """Key rows as one side of a pair join: ID and payload suffixed."""
    return df.select(
        F.col(C.ID).alias(f"ID_{side}"),
        *cols,
        *(F.col(c).alias(f"{c}_{side}") for c in _CARRY),
    )


def _oriented_cols() -> list:
    """Raw-pair columns of an (l, r) join, oriented so ID_1 < ID_2."""
    swap = F.col("ID_l") > F.col("ID_r")
    cols = [
        F.least("ID_l", "ID_r").alias("ID_1"),
        F.greatest("ID_l", "ID_r").alias("ID_2"),
        F.col("rule_idx"),
        F.col("rto"),
    ]
    for c in _CARRY:
        for out, keep, swapped in (("1", "l", "r"), ("2", "r", "l")):
            cols.append(
                F.when(swap, F.col(f"{c}_{swapped}"))
                .otherwise(F.col(f"{c}_{keep}"))
                .alias(f"{c}_{out}")
            )
    return cols


def _self_join(keys: DataFrame) -> DataFrame:
    """Raw pairs (ID_1 < ID_2) of the plain (rule_idx, key) self-join.

    ``rto`` is a function of ``rule_idx``, so it is re-derived after the
    join instead of read from one side: both sides then read the same
    key-row columns, and a shuffle below them is one exchange that the
    other side reuses.
    """
    return (
        _sided(keys, "1", ("rule_idx", "key"))
        .join(_sided(keys, "2", ("rule_idx", "key")), ["rule_idx", "key"])
        .filter(F.col("ID_1") < F.col("ID_2"))
        .select(
            "ID_1", "ID_2", "rule_idx",
            F.col("rule_idx").isin(sorted(_RTO_RULE_IDXS)).alias("rto"),
            *(f"{c}_{s}" for c in _CARRY for s in ("1", "2")),
        )
    )


def _inline_prune_flags(df: DataFrame) -> DataFrame:
    """ss-prune rows out; compute the pair-level title-overlap verdict.

    Both pruning predicates are PAIR-level and rule-independent, so they
    evaluate on the self-join output itself (map-side, same stage as the
    join) instead of on separate record joins after aggregation: the raw
    pair stream shrinks before it ever hits the distinct shuffle, and the
    surviving pairs reach enrichment already pruned. The search-set drop
    removes whole pairs (every row of a pair agrees); the title verdict
    is carried as one boolean because whether it APPLIES depends on the
    aggregated require-title-overlap flag (AND over producing rules) —
    attribution still sees every producing rule, exactly like the
    reference's prune-after-dedupe order (block.py:152-198,272-276).

    The title-equality exemption compares xxhash64(title) without a
    collision check. Unlike a surrogate-id collision (checked, because
    it would fuse two records), a title-hash collision can only exempt
    one pair from the overlap prune: one extra candidate pair, which the
    matcher still decides (~2^-64 per pair).
    """
    exempt = (
        (F.col("_th_1") == F.col("_th_2"))
        | (~F.col("_sp_1"))
        | (~F.col("_sp_2"))
    )
    shared = F.size(F.array_intersect("_tokh_1", "_tokh_2"))
    denom = F.least(F.col("_nt_1") + 1, F.col("_nt_2") + 1)
    both_empty = (F.col("_tl_1") + F.col("_tl_2")) == 0
    low_overlap = F.when(both_empty, F.lit(True)).otherwise(
        (shared / denom) < 0.5
    )
    return (
        df.filter(
            ~(
                (F.col("_ss_1") == F.col("_ss_2"))
                & (F.col("_ss_1") != "")
            )
        )
        .withColumn("_title_ok", exempt | ~low_overlap)
        .select("ID_1", "ID_2", "rule_idx", "rto", "_title_ok")
    )


def _prune_aggregate(raw_pairs: DataFrame, *memberships) -> DataFrame:
    """Raw pairs → pruned (ID_1, ID_2, rule_idx), one row per pair.

    Earliest rule wins the attribution; overlap is required only if
    EVERY producing rule required it (block.py:272-276). The
    ``memberships`` (refined hot groups' key rows; None entries skipped)
    restore attribution for pairs the word join legitimately skipped
    (:func:`_recover_attribution`). A membership row is a real key row,
    so their union qualifies only pairs that really share the key.
    """
    grouped = (
        _inline_prune_flags(raw_pairs)
        .groupBy("ID_1", "ID_2")
        .agg(
            F.min("rule_idx").alias("rule_idx"),
            F.min(F.col("rto").cast("int")).cast("boolean").alias(
                "require_title_overlap"
            ),
            F.first("_title_ok").alias("_title_ok"),
        )
        .filter(F.col("_title_ok") | ~F.col("require_title_overlap"))
        .select("ID_1", "ID_2", "rule_idx")
    )
    memberships = [m for m in memberships if m is not None]
    if memberships:
        grouped = _recover_attribution(
            grouped, reduce(DataFrame.unionByName, memberships)
        )
    return grouped


def _refine_base(keys: DataFrame, hot_ref: DataFrame) -> DataFrame:
    """Hot-group key rows with distinct-token count and wildcard flag."""
    base = keys.join(F.broadcast(hot_ref), ["rule_idx", "key"])
    return base.withColumn("_d", F.size("_tokh")).withColumn(
        "_wc", (~F.col("_sp")) | (F.col("_d") == 0)
    )


def _word_prefix_tables(base: DataFrame):
    """(all-words, prefix-words) tables for the refined word join.

    ``prefix`` keeps each non-wildcard record's ⌊(d−1)/2⌋+1 rarest
    distinct token hashes (group-local document frequency ``_wdf`` over
    every row of ``base``, ties by hash — the pigeonhole superset
    guarantee holds for ANY fixed-size choice among equally-rare
    tokens) — the probe side of the AllPairs join; ``words`` is the full
    index side. Both keep every ``base`` column. Tokens travel as
    xxhash64 longs (see :func:`_carry_columns`), so the wdf shuffle and
    the join keys are fixed 8-byte values.
    """
    words = base.filter(~F.col("_wc")).select(
        "*", F.explode("_tokh").alias("_w")
    )
    wdf = words.groupBy("rule_idx", "key", "_w").agg(
        F.count("*").alias("_wdf")
    )
    win = Window.partitionBy("rule_idx", "key", C.ID).orderBy("_wdf", "_w")
    prefix = (
        words.join(wdf, ["rule_idx", "key", "_w"])
        .withColumn("_rank", F.row_number().over(win))
        .filter(F.col("_rank") <= F.floor((F.col("_d") - 1) / 2) + 1)
    )
    return words, prefix


# Route a hot overlap-rule group to the word join only when its estimated
# emission is under this fraction of the all-pairs volume: low-vocabulary
# groups (every title shares words with every other) would emit MORE
# word-join rows than the quadratic join they replace.
REFINE_COST_RATIO = 0.5

# ... and only when the hot set's TOTAL all-pairs volume is large
# enough for the word join's fixed plan cost to pay off. The refinement
# chain (wdf shuffle + prefix windows + routing-estimate collect +
# attribution-recovery joins) is built ONCE over every candidate key,
# so its near-constant wall-time slice amortizes across the whole hot
# set — the floor is therefore on the SUM of the candidates' quadratic
# volumes, not per key. Measured on local[32]: 5 hot keys totalling
# ~22M quadratic pairs ran 13.0 s salted vs 33.9 s refined (fixed cost
# dominates), a 155k-record zipf probe at 58.5M total was a wash
# (93.9 s salted vs ~100 s), and the round-5 232k/620k zipf probes
# (131.7M+ total) won 339 vs 529 s and 963 vs 1412 s refined. Floor set
# at the wash point; per-key est routing (REFINE_COST_RATIO) still
# sends dense-vocabulary keys back individually. Both branches are
# exact, so this is purely a physical-plan choice.
REFINE_MIN_QUAD_PAIRS = 128_000_000


def _refined_hot_pairs(
    probe: DataFrame,
    index: DataFrame,
    probe_prefix: DataFrame,
    index_words: DataFrame,
    salt_bucket_size: int,
) -> DataFrame:
    """Raw pairs of hot require-title-overlap groups WITHOUT the
    quadratic all-pairs join — provably output-preserving.

    Inside a group, the downstream title-overlap prune
    (:func:`_inline_prune_flags`, mirroring reference block.py:152-198)
    keeps a pair only if (a) either title has no space, (b) titles are
    identical, or (c) DISTINCT shared words ≥ 0.5·(min(multiset len)+1).
    So instead of generating all pairs and pruning, generate only a
    superset of the survivors between the ``probe`` and ``index`` rows
    of each group:

    * **wildcards** (no-space titles, plus zero-token degenerates that
      can only pass via identical titles) × everyone — these pairs are
      prune-exempt, i.e. necessary output; bucketed like the salted join
      so no task sees more than ``salt_bucket_size`` targets per probe.
      A wildcard × wildcard pair is emitted only from its smaller ID, so
      probing in both directions emits it once.
    * **prefix-filtered word join** (AllPairs-style) for the rest: each
      index record lists ALL its distinct title words, each probe record
      only its ⌊(d−1)/2⌋+1 rarest (group-local document frequency, ties
      by token hash) — any pair passing (b) or (c) shares > half the
      smaller distinct set, so the smaller record's rarest-half prefix
      must contain a shared word. Common words (stopwords) almost never
      land in prefixes, which is exactly what kills the quadratic term
      at low-entropy keys.

    In-corpus blocking calls this once with probe = index = the hot
    group (either side of a pair probes). Incremental blocking calls it
    twice, batch→corpus and corpus→batch, because the smaller side of a
    crossing pair may sit on either. Generated ⊆ all-pairs and ⊇ prune
    survivors, and the exact prune still runs downstream, so the final
    pair set is bit-identical to the salted path (pinned by the refine,
    fuzz and block_delta differentials). First-rule attribution for
    pairs this generator legitimately skips is restored exactly by the
    post-prune recovery join (:func:`_recover_attribution`).

    ``probe``/``index`` are :func:`_refine_base` rows and
    ``probe_prefix``/``index_words`` :func:`_word_prefix_tables` rows,
    all restricted to the ROUTED hot keys. Because ``_wdf`` and the
    prefix rank are group-local to (rule_idx, key), filtering tables
    prebuilt over every candidate key is bit-identical to rebuilding
    them from the routed subset.
    """
    n_buckets = F.ceil(F.col("_block_n") / F.lit(salt_bucket_size)).cast(
        "int"
    )
    wc_probe = _sided(
        probe.filter("_wc").withColumn(
            "_to", F.explode(F.sequence(F.lit(0), n_buckets - 1))
        ),
        "l",
        ("rule_idx", "rto", "key", "_to"),
    )
    wc_target = _sided(
        index.withColumn(
            "_to", F.pmod(F.xxhash64(C.ID), n_buckets).cast("int")
        ).withColumn("_wc_r", F.col("_wc")),
        "r",
        ("rule_idx", "key", "_to", "_wc_r"),
    )
    wc_pairs = (
        wc_probe.join(wc_target, ["rule_idx", "key", "_to"])
        .filter(
            (~F.col("_wc_r") & (F.col("ID_l") != F.col("ID_r")))
            | (F.col("ID_l") < F.col("ID_r"))
        )
        .select(*_oriented_cols())
    )
    word_pairs = (
        _sided(probe_prefix, "l", ("rule_idx", "rto", "key", "_w"))
        .join(
            _sided(index_words, "r", ("rule_idx", "key", "_w")),
            ["rule_idx", "key", "_w"],
        )
        .filter(F.col("ID_l") != F.col("ID_r"))
        .select(*_oriented_cols())
    )
    return wc_pairs.unionByName(word_pairs)


SALT_BUCKET_SIZE = 512

# Upper bound on hot blocking keys materialized to the driver by
# candidate_pairs. The hot table is broadcast by both of its consumers,
# so it must be broadcast-sized anyway; ~100k (rule_idx, key, count)
# rows ≈ 10 MB. A corpus with more hot keys than this is degenerate for
# salt mode (the key set itself no longer fits a broadcast) — fail
# loudly rather than silently OOM the driver.
HOT_KEY_COLLECT_LIMIT = 100_000

def _precheck_rows(
    keys: DataFrame, base: DataFrame, salt_threshold: int | None, ids: bool
) -> list:
    """The path-choosing questions of the blocking paths, answered by
    ONE aggregate and ONE bounded collect.

    With ``salt_threshold`` set, the key rows' ``(rule_idx, key)`` groups
    above it are the hot keys. With ``ids``, every titled record of
    ``base`` adds a ``(-1, string(xxhash64(ID)))`` row, and a ``-1``
    group of more than one row is a surrogate-id collision or a repeated
    id. Both kinds of row come back in one collect, bounded in the job
    that computes it: ``limit(N+1)`` returning ≤ N rows means the driver
    holds ALL of them. On an ``orderBy`` the limit is a per-partition
    top-N read in one job; a bare ``limit`` reads the partitions in
    growing rounds, one job each, when fewer than N+1 rows qualify.
    """
    parts, keep = [], []
    if salt_threshold is not None:
        parts.append(keys.select("rule_idx", "key"))
        keep.append(
            (F.col("rule_idx") >= 0) & (F.col("_block_n") > salt_threshold)
        )
    if ids:
        parts.append(
            base.select(
                F.lit(-1).alias("rule_idx"),
                F.xxhash64(C.ID).cast("string").alias("key"),
            )
        )
        keep.append((F.col("rule_idx") < 0) & (F.col("_block_n") > 1))
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("rule_idx", "key")
        .agg(F.count("*").alias("_block_n"))
        .filter(reduce(lambda a, b: a | b, keep))
        .orderBy("rule_idx", "key")
        .limit(HOT_KEY_COLLECT_LIMIT + 1)
        .collect()
    )


def _route_pairs(
    keys: DataFrame,
    hot_rows: list,
    max_block_size: int | None,
    hot_key_strategy: str,
    refine_min_quad: float | None = None,
    cache_out: list | None = None,
):
    """``(raw_pairs, membership)`` of key rows: the one pair router of
    :func:`candidate_pairs` and of :func:`block_delta`'s within-batch
    pairs. ``hot_rows`` are the collected ``(rule_idx, key, _block_n)``
    groups above the hot threshold (:func:`_precheck_rows`); with
    ``max_block_size=None`` the plain self-join runs. ``membership`` is
    the refined groups' key rows for :func:`_prune_aggregate`, or None.
    """
    if max_block_size is None:
        return _self_join(keys), None
    salt = hot_key_strategy == "salt"
    # Two tiers: keys above max_block_size are DROPPED under "drop";
    # under "salt" everything above the (smaller) salt bucket size is
    # routed to the salted join for task granularity — pair-set
    # preserving. A join cell emits up to bucket² rows: a bucket at a
    # 2000-record cap meant 4M-row cells and a straggler task tail at 1M
    # records (measured: 8 tasks dominating the block stage).
    salt_bucket_size = min(max_block_size, SALT_BUCKET_SIZE)
    if len(hot_rows) > HOT_KEY_COLLECT_LIMIT:
        threshold = salt_bucket_size if salt else max_block_size
        raise ValueError(
            f"more than {HOT_KEY_COLLECT_LIMIT} blocking keys exceed "
            f"the hot-key threshold ({threshold}): the hot-key table no "
            "longer fits a broadcast, which the salted join requires. "
            "This corpus's key entropy is too low for salt mode — raise "
            "max_block_size or use hot_key_strategy='drop'."
        )
    # The hot table feeds BOTH the anti-join and the salt join. It is
    # already constrained to broadcast size (each consumer broadcasts
    # it), so it is materialized to the DRIVER and rebuilt as a local
    # relation: no cache entry outlives this call — streaming calls
    # block()/block_delta() per micro-batch. When no key is hot (the
    # common case) the anti-join and salt machinery are skipped.
    hot_pairs = membership = None
    if hot_rows:

        def hot_keys(rows):
            return F.broadcast(
                keys.sparkSession.createDataFrame(
                    rows, schema="rule_idx int, key string, _block_n long"
                )
            )

        keys_cold = keys.join(
            hot_keys(hot_rows).select("rule_idx", "key"),
            ["rule_idx", "key"],
            "left_anti",
        )
        if salt:
            # aggregate quadratic floor (REFINE_MIN_QUAD_PAIRS): the
            # word-join chain's fixed plan cost amortizes over ALL
            # candidate keys, so the go/no-go is on the SUM of their
            # all-pairs volumes — below it the salted join is the cheaper
            # exact plan for the whole set, and the entire refinement
            # subplan (word/prefix tables, the routing-estimate collect,
            # recovery joins) is skipped outright. Above it, the per-key
            # est router still returns dense-vocabulary keys to salt
            # individually.
            if refine_min_quad is None:
                refine_min_quad = REFINE_MIN_QUAD_PAIRS
            ref_rows, salt_rows = [], []
            for r in hot_rows:
                rto = r["rule_idx"] in _RTO_RULE_IDXS
                (ref_rows if rto else salt_rows).append(r)
            ns = [r["_block_n"] for r in ref_rows]
            if sum(n * (n - 1) / 2 for n in ns) < refine_min_quad:
                ref_rows, salt_rows = [], list(hot_rows)
            if ref_rows:
                # cost-based routing per hot key: word-join only where
                # its measured emission (Σ _wdf over the prefix rows)
                # beats the quadratic join (e.g. a tiny-vocabulary group
                # shares words everywhere and is cheaper salted). Both
                # branches are exact, so this is a physical-plan choice.
                #
                # The refine base + word/prefix tables are built ONCE
                # over every refine-candidate key and shared with the
                # generator below. With ``cache_out`` the prefix table
                # (the wdf-shuffle + window chain the cost collect
                # forces anyway) is persisted so the downstream pair join
                # re-reads it instead of recomputing both shuffles.
                rbase = _refine_base(keys, hot_keys(ref_rows))
                rwords, rprefix = _word_prefix_tables(rbase)
                if cache_out is not None:
                    from pyspark.storagelevel import StorageLevel

                    rprefix = rprefix.persist(StorageLevel.MEMORY_AND_DISK)
                    cache_out.append(rprefix)
                # this collect returns ≤ len(ref_rows) rows, and
                # ref_rows ⊆ hot_rows is already bounded by
                # HOT_KEY_COLLECT_LIMIT above — the routing round-trip
                # can never exceed the hot-key collect's own bound. It
                # only runs at all when some key passed the
                # REFINE_MIN_QUAD_PAIRS floor; folding it into the
                # hot-key collect itself was examined and rejected: est
                # needs the hot key set first, and computing it for ALL
                # keys would replace a broadcast-driven bounded job with
                # a full shuffle of the key table.
                est = {
                    (r["rule_idx"], r["key"]): r["_est"]
                    for r in rprefix.groupBy("rule_idx", "key")
                    .agg(F.sum("_wdf").alias("_est"))
                    .collect()
                }
                routed = []
                for r in ref_rows:
                    n = r["_block_n"]
                    e = est.get((r["rule_idx"], r["key"]), 0)
                    if e < REFINE_COST_RATIO * n * (n - 1) / 2:
                        routed.append(r)
                    else:
                        salt_rows.append(r)
                ref_rows = routed

            if salt_rows:
                n_buckets = F.ceil(
                    F.col("_block_n") / F.lit(salt_bucket_size)
                ).cast("int")
                salted = keys.join(
                    hot_keys(salt_rows), ["rule_idx", "key"]
                ).withColumn(
                    "_salt",
                    F.pmod(F.xxhash64(C.ID), n_buckets).cast("int"),
                )
                # Symmetric 2-D cell decomposition: a pair (a, b) with
                # salt buckets i ≤ j meets exactly in cell (_i=i, _j=j) —
                # the left side carries a record's replicas RIGHTWARD
                # (cells (salt, j), j ≥ salt), the right side DOWNWARD
                # (cells (i, salt), i ≤ salt); for i < j the pair is
                # produced once, for i == j twice ((a,b) and (b,a), same
                # as the unsalted self-join) and deduped by the
                # downstream (ID_1, ID_2) aggregation. Every join cell is
                # bucket × bucket (≤ salt_bucket_size² output) regardless
                # of group size — unlike a probe-vs-own-bucket layout,
                # whose LAST cell joins the whole group against one
                # bucket (bucket·k output in a single task: the measured
                # block straggler tail at a 1M-record corpus). Replica
                # shuffle volume is ~2× that layout, but replicas are
                # slim key rows; the join OUTPUT (which dominates) is
                # identical.
                salted_left = _sided(
                    salted.withColumn(
                        "_j",
                        F.explode(F.sequence(F.col("_salt"), n_buckets - 1)),
                    ).withColumn("_i", F.col("_salt")),
                    "l",
                    ("rule_idx", "rto", "key", "_i", "_j"),
                )
                salted_right = _sided(
                    salted.withColumn(
                        "_i",
                        F.explode(F.sequence(F.lit(0), F.col("_salt"))),
                    ).withColumn("_j", F.col("_salt")),
                    "r",
                    ("rule_idx", "key", "_i", "_j"),
                )
                hot_pairs = (
                    salted_left.join(
                        salted_right, ["rule_idx", "key", "_i", "_j"]
                    )
                    .filter(F.col("ID_l") != F.col("ID_r"))
                    .select(*_oriented_cols())
                )
            if ref_rows:
                routed_keys = hot_keys(ref_rows).select("rule_idx", "key")
                group = rbase.join(routed_keys, ["rule_idx", "key"])
                refined = _refined_hot_pairs(
                    group,
                    group,
                    rprefix.join(routed_keys, ["rule_idx", "key"]),
                    rwords.join(routed_keys, ["rule_idx", "key"]),
                    salt_bucket_size,
                )
                hot_pairs = (
                    refined
                    if hot_pairs is None
                    else hot_pairs.unionByName(refined)
                )
                # membership table for exact first-rule attribution of
                # pairs the refined generator legitimately skips (no
                # shared prefix word) that survive via ANOTHER rule
                membership = group.select(C.ID, "rule_idx", "key")
        keys = keys_cold

    # Cold-side self-join with ONE shuffle of the key table instead of
    # two, and singletons dropped before the join probe. The explicit
    # repartition on the join key lets both join sides read the SAME
    # exchange (ReusedExchange). That needs both sides to read the same
    # columns below it (_self_join re-derives rto for that) and the key
    # rows to be a checkpoint, not a persisted frame (see
    # candidate_pairs); over a persist() the plan ran two shuffles. The
    # window count's sort is by exactly the join keys, so it doubles as
    # the sort-merge sort and drops singleton (rule, key) groups — the
    # vast majority at web scale, which the plain join shuffled into
    # BOTH sides and sorted just to produce nothing. Window partitions
    # are bounded by the hot threshold (hot keys were routed out above),
    # so the window buffers at most that many rows per group. Pair
    # multiset is unchanged (singletons produce no pairs; pinned by the
    # salting/refine differentials and the block oracles).
    nkey = Window.partitionBy("rule_idx", "key")
    keys = (
        keys.repartition("rule_idx", "key")
        .withColumn("_n", F.count("*").over(nkey))
        .filter(F.col("_n") >= 2)
        .drop("_n")
    )
    raw_pairs = _self_join(keys)
    if hot_pairs is not None:
        raw_pairs = raw_pairs.unionByName(hot_pairs)
    return raw_pairs, membership


def candidate_pairs(
    records_df: DataFrame,
    max_block_size: int | None = 1000,
    hot_key_strategy: str = "salt",
    surrogate_ids: bool = False,
    cache_out: list | None = None,
    refine_min_quad: float | None = None,
) -> DataFrame:
    """Pruned candidate pairs (ID_1 < ID_2, rule_idx), first-rule
    attribution.

    The key rows (:func:`_key_rows`) carry each record's hashed
    (title, tokens, search_set) payload, the search-set and
    title-overlap prunes evaluate on the self-join output map-side, and
    the returned table is already pruned — candidates never pay
    post-aggregation record joins just to be discarded (at 155k records
    that is 71M raw pairs pruned to ~1.5M).

    Hot-key skew: a blocking key shared by k records implies O(k²) pairs.
    With ``hot_key_strategy="salt"`` (default), keys whose group exceeds
    the salt bucket size (min(max_block_size, SALT_BUCKET_SIZE)) are
    split into ⌈k / bucket⌉ deterministic salt buckets; within-bucket
    plus lower-triangular cross-bucket joins regenerate EXACTLY the same
    pair set while bounding every join group — the quadratic output is
    spread over many tasks instead of one reducer. ``"drop"`` removes
    keys above ``max_block_size`` outright (bounded-output mode;
    observable via :func:`blocking_key_stats`).

    In salt mode, hot groups of require-title-overlap rules may skip the
    quadratic salted self-join and generate pairs through
    :func:`_refined_hot_pairs` — wildcard×all plus a prefix-filtered word
    join whose output is a superset of the downstream prune's survivors,
    so the FINAL pair set (and, via the post-prune recovery join,
    first-rule attribution) is bit-identical while the raw pair volume
    stops growing quadratically at low-entropy keys. Non-overlap rules'
    hot groups always use the salted join (their pairs are all
    legitimate output). ``refine_min_quad`` overrides
    ``REFINE_MIN_QUAD_PAIRS``, the AGGREGATE all-pairs-volume floor below
    which the whole hot rto set is salted without building the
    refinement subplan at all: 0 always considers refinement (the refine
    differentials and the block_refined_pairs oracle), ``math.inf``
    never does.

    The exploded key table feeds several consumers, so it is stored
    with ``localCheckpoint()`` and the upstream prep UDF pass runs once.
    A checkpoint rather than ``persist()``: AQE wraps every read of a
    persisted frame in its own cache query stage, whose canonical form
    keeps its stage id, so two exchanges over one cache never match —
    over a checkpoint the cold self-join's two sides share one shuffle.
    The trade-off: checkpoint blocks cannot be recomputed, so a lost
    executor fails the job (as ``cluster()``'s per-round checkpoints
    already accept). Nothing is registered in the CacheManager.

    Before pair generation ONE aggregate (:func:`_precheck_rows`)
    answers both path-choosing questions: which keys are hot, and
    whether a surrogate id collides. A collision (or a repeated input
    id) warns and rebuilds the key rows with string ids. Pairs then come
    from the router :func:`_route_pairs`.

    ``cache_out`` — when given, the refined path's shared prefix-word
    table (whose two shuffles the routing cost estimate already forces)
    is persisted and appended to the list; the CALLER unpersists after
    consuming the returned pairs (match.py cache_out convention). When
    ``None`` (default) nothing is persisted here — the prefix chain is
    recomputed by the downstream action, trading one extra pass over the
    hot-key words for a leak-free default.
    """
    base = records_df.filter(F.col(C.TITLE).isNotNull())

    # 8-byte surrogate ids through the (dominant) pair shuffles: at web
    # scale the record ID is a URL, and the raw pair stream would
    # otherwise carry two of them per row. xxhash64 is deterministic; a
    # collision would silently fuse two records, so its absence is
    # CHECKED by the pre-check aggregate below and the string path is
    # used on the (astronomically rare) hit. Repeated input ids also
    # route to the string path — purely a physical choice, both paths
    # emit identical pairs, and duplicate ids are degenerate input.
    id_map = (
        base.select(C.ID, F.xxhash64(C.ID).alias("_nid"))
        if surrogate_ids
        else None
    )
    keys = _key_rows(
        base, F.xxhash64(C.ID) if surrogate_ids else F.col(C.ID)
    ).localCheckpoint()

    salt_threshold = None
    if max_block_size is not None:
        salt_threshold = (
            min(max_block_size, SALT_BUCKET_SIZE)
            if hot_key_strategy == "salt"
            else max_block_size
        )
    hot_rows = []
    if surrogate_ids or salt_threshold is not None:
        rows = _precheck_rows(keys, base, salt_threshold, surrogate_ids)
        hot_rows = [r for r in rows if r["rule_idx"] >= 0]
        if len(hot_rows) < len(rows):
            import warnings

            # rare path: the exact counts only for the message
            n_id, n_nid = base.agg(
                F.count("*"), F.countDistinct(F.xxhash64(C.ID))
            ).first()
            warnings.warn(
                "xxhash64 surrogate-id collision (or repeated input ids) "
                f"detected ({n_id} rows -> {n_nid} hashes); falling back "
                "to string ids for this blocking pass",
                UserWarning,
                stacklevel=2,
            )
            id_map = None
            keys = _key_rows(base, F.col(C.ID)).localCheckpoint()
            full = len(rows) > HOT_KEY_COLLECT_LIMIT
            if full and salt_threshold is not None:
                # id rows shared the bound: the hot set may be partial
                hot_rows = _precheck_rows(keys, base, salt_threshold, False)

    raw_pairs, membership = _route_pairs(
        keys, hot_rows, max_block_size, hot_key_strategy, refine_min_quad,
        cache_out,
    )
    grouped = _prune_aggregate(raw_pairs, membership)
    if id_map is not None:
        # map surviving pairs back to string ids (two joins over the
        # POST-prune survivors — tiny next to the raw stream) and restore
        # the reference's string-order pair orientation
        grouped = (
            grouped.join(
                id_map.select(
                    F.col("_nid").alias("ID_1"), F.col(C.ID).alias("_sid_1")
                ),
                "ID_1",
            )
            .join(
                id_map.select(
                    F.col("_nid").alias("ID_2"), F.col(C.ID).alias("_sid_2")
                ),
                "ID_2",
            )
            .select(
                F.least("_sid_1", "_sid_2").alias("ID_1"),
                F.greatest("_sid_1", "_sid_2").alias("ID_2"),
                "rule_idx",
            )
        )
    return grouped


def _recover_attribution(
    grouped: DataFrame, membership: DataFrame
) -> DataFrame:
    """Exact first-rule attribution under word-join refinement.

    A surviving pair whose records share a REFINED hot (rule, key)
    qualifies for that rule even if the word join never emitted it (the
    pair got through via another rule; reference attribution is min over
    ALL qualifying rules, block.py:272-277). Recompute qualification
    from the ``membership`` table — DataFrame[ID, rule_idx, key] of the
    refined hot groups — over survivors only, so both joins are
    post-prune-sized. ``grouped`` is read once: a second read would run
    its whole pair-generation plan twice.
    """
    m = membership.select(C.ID, F.col("rule_idx").alias("_hr"), "key")
    both = m.select(
        F.col(C.ID).alias("ID_2"), "_hr", "key", F.lit(True).alias("_both")
    )
    hr = F.min(F.when(F.col("_both"), F.col("_hr")))
    return (
        grouped.join(m.withColumnRenamed(C.ID, "ID_1"), "ID_1", "left")
        .join(both, ["ID_2", "_hr", "key"], "left")
        .groupBy("ID_1", "ID_2")
        .agg(
            F.least(
                F.min("rule_idx"), F.coalesce(hr, F.lit(len(BLOCKING_RULES)))
            ).alias("rule_idx")
        )
    )


def blocking_key_stats(records_df: DataFrame) -> DataFrame:
    """Per-(rule, key) group sizes — the skew observability surface."""
    return (
        records_df.select(C.ID, F.explode(_key_entries_column()).alias("e"))
        .groupBy(F.col("e.rule_idx").alias("rule_idx"), F.col("e.key").alias("key"))
        .agg(F.count("*").alias("group_size"))
    )


def _enrich(pruned_pairs: DataFrame, records_df: DataFrame) -> DataFrame:
    """Wide enrichment of ALREADY-PRUNED (ID_1, ID_2, rule_idx) pairs.

    Pruning happened inline in candidate generation (see
    :func:`candidate_pairs`), so only surviving pairs — a tiny fraction
    of raw candidates — pay the two 35-column record joins.
    """
    rule_names = F.array(
        *[F.lit(rule_name(fields)) for fields, _ in BLOCKING_RULES]
    )
    left_rec = records_df.select(
        *[F.col(c).alias(f"{c}_1") for c in C.PREPARED_FIELDS]
    )
    right_rec = records_df.select(
        *[F.col(c).alias(f"{c}_2") for c in C.PREPARED_FIELDS]
    )

    enriched = (
        pruned_pairs.join(left_rec, "ID_1", "left")
        .join(right_rec, "ID_2", "left")
        .withColumn(C.BLOCK_RULE, rule_names[F.col("rule_idx")])
    )

    return enriched.select(*C.pair_columns())


def block(
    records_df: DataFrame,
    max_block_size: int | None = 1000,
    hot_key_strategy: str = "salt",
    surrogate_ids: bool = True,
    cache_out: list | None = None,
    refine_min_quad: float | None = None,
) -> DataFrame:
    """Full blocking stage → enriched, pruned pair table.

    The (filtered) prepared records are stored with
    ``localCheckpoint()``: they feed the key explode plus both enrichment
    joins — otherwise an unpersisted prep stage would re-run its
    normalizer UDF pass for every consumer. As for the key rows in
    :func:`candidate_pairs`, a checkpoint lets AQE reuse one broadcast
    of the records (and of the surrogate id map) for both enrichment
    joins, and leaves no CacheManager entry behind; a lost executor
    fails the job, because checkpoint blocks cannot be recomputed.
    The other parameters — see :func:`candidate_pairs`. Surrogate ids
    default ON here: the raw pair shuffle carries two 8-byte longs
    instead of two record-id strings (urls at web scale) per row —
    measured 22% at 93k url-id records, identical pair + attribution
    sets, collision-checked with a loud string-path fallback.
    """
    records_df = records_df.filter(
        F.col(C.TITLE).isNotNull()
    ).localCheckpoint()
    pairs = candidate_pairs(
        records_df,
        max_block_size=max_block_size,
        hot_key_strategy=hot_key_strategy,
        surrogate_ids=surrogate_ids,
        cache_out=cache_out,
        refine_min_quad=refine_min_quad,
    )
    return _enrich(pairs, records_df)


def corpus_key_table(prepared_df: DataFrame) -> DataFrame:
    """Exploded blocking-key index
    DataFrame[ID, rule_idx, rto, key, _th, _sp, _tl, _nt, _tokh, _ss].

    The persistable index for incremental (delta) blocking: computing it
    once per record when the record ENTERS the corpus replaces
    re-exploding the whole corpus every micro-batch. These are the same
    key rows :func:`candidate_pairs` joins (string IDs): the hashed
    pruning payload (:func:`_carry_columns`) lets block_delta prune
    candidates inline on the join output without a record join, and
    without re-hashing corpus titles every batch.
    """
    return _key_rows(prepared_df, F.col(C.ID))


# Crossing-side refinement floor: a hot (rule, key) group is routed to
# the two-directional word join only when its batch×corpus fan-out is at
# least this many rows AND the batch holds at least CROSS_REFINE_MIN_NB
# members of the key (below that, the fan-out is O(|corpus group|) —
# the same order as the word join's own index pass, so refinement
# cannot win). Calibrated on the incremental probe's degenerate corpus
# (one corpus-wide author key): per-batch wall 19→82 s over 6 batches
# unrefined at 2.25M→13.5M fan-out. Purely physical routing — both
# branches produce the exact same pair set.
CROSS_REFINE_MIN_PAIRS = 1_000_000
CROSS_REFINE_MIN_NB = 8

# The crossing word join's per-emitted-row cost is higher than the
# fan-out join's per-pair cost (the chain pays wdf + two prefix windows
# + a four-way union + the recovery joins, where the fan-out is one
# codegen'd broadcast join feeding a partial aggregation). Measured on
# the cross-refine probe (zipf titles, 1500×3000 degenerate key):
# ~11 µs per word-join row vs ~2.8 µs per fan-out row — so the word
# join must cut emission by well over 4× before it wins. Route at 0.1:
# est below 10% of the fan-out volume is a clear win (entropic titles
# land at 1-2%), anything marginal stays on the fan-out.
CROSS_REFINE_COST_RATIO = 0.1


def _refined_crossing_pairs(
    batch_keys: DataFrame,
    corpus_frames: list,
    min_pairs: int,
    salt_bucket_size: int,
    cache_out: list | None = None,
):
    """Batch×corpus raw pairs of hot rto keys via the shared word join.

    Candidates are batch rto keys with ≥ CROSS_REFINE_MIN_NB batch
    members (1 when ``min_pairs`` is 0) and a fan-out nb·nc ≥
    ``min_pairs``. A candidate's batch and corpus rows form one refine
    base, so prefix ranks use the COMBINED document frequency, and
    :func:`_refined_hot_pairs` runs batch→corpus and corpus→batch.

    The routing estimate (Σ over prefix rows of the opposite side's
    document frequency, against CROSS_REFINE_COST_RATIO × nb·nc) reads a
    DETERMINISTIC 1/16 record sample scaled ×16: the wdf aggregation
    stays full, but the per-record prefix windows run over sampled
    records only, so a batch whose keys route BACK pays little for
    having asked. A key whose batch or corpus side has no sampled
    non-wildcard record is estimated from all its records instead: the
    blind side would read as 0 and could send a dense key to the word
    join.

    Returns ``(raw_pairs, membership, routed_df)``, or ``None`` when no
    key is a candidate or every candidate routes back. With
    ``cache_out`` the refine base (group-sized) is persisted so its
    consumers do not each re-scan the corpus index; the CALLER
    unpersists it after the batch.
    """
    mod = 16
    sampled = (F.pmod(F.xxhash64(C.ID), mod) == 0) & F.col("_sp") & (
        F.col("_nt") > 0
    )
    min_nb = CROSS_REFINE_MIN_NB if min_pairs > 0 else 1
    # driver round-trip 1: batch-side member counts per rto key — tiny
    # (the batch is the small side by construction) and gated so healthy
    # batches pay ONLY this one cheap aggregation
    nb_rows = (
        batch_keys.filter(F.col("rule_idx").isin(sorted(_RTO_RULE_IDXS)))
        .groupBy("rule_idx", "key")
        .agg(
            F.count("*").alias("_nb"),
            F.sum(sampled.cast("int")).alias("_nbs"),
        )
        .filter(F.col("_nb") >= min_nb)
        .orderBy("rule_idx", "key")  # one job: see _precheck_rows
        .limit(HOT_KEY_COLLECT_LIMIT + 1)
        .collect()
    )
    if not nb_rows or len(nb_rows) > HOT_KEY_COLLECT_LIMIT:
        return None
    spark = batch_keys.sparkSession
    nb_only = {(r["rule_idx"], r["key"]): r for r in nb_rows}
    bk_df = F.broadcast(
        spark.createDataFrame(list(nb_only), schema="rule_idx int, key string")
    )
    # driver round-trip 2 (only when a batch key looked hot): corpus-side
    # member counts, restricted to those keys
    corpus = reduce(
        DataFrame.unionByName,
        [c.select(*batch_keys.columns) for c in corpus_frames],
    )
    nc_rows = (
        corpus.join(bk_df, ["rule_idx", "key"], "semi")
        .groupBy("rule_idx", "key")
        .agg(
            F.count("*").alias("_nc"),
            F.sum(sampled.cast("int")).alias("_ncs"),
        )
        .collect()
    )
    nb_map, blind = {}, []
    for r in nc_rows:
        rk = (r["rule_idx"], r["key"])
        b = nb_only[rk]
        if b["_nb"] * r["_nc"] >= min_pairs:
            nb_map[rk] = (b["_nb"], r["_nc"])
            if not (b["_nbs"] and r["_ncs"]):
                blind.append(f"{rk[0]}{_KEY_SEP}{rk[1]}")
    if not nb_map:
        return None

    cand = spark.createDataFrame(
        [(r, k, nb + nc) for (r, k), (nb, nc) in nb_map.items()],
        schema="rule_idx int, key string, _block_n long",
    )
    base = _refine_base(
        batch_keys.withColumn("_isb", F.lit(True)), cand
    ).unionByName(
        _refine_base(corpus.withColumn("_isb", F.lit(False)), cand)
    )
    if cache_out is not None:
        from pyspark.storagelevel import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
        cache_out.append(base)
    words, prefix = _word_prefix_tables(base)

    # the sample predicate reads only the prefix window's partition
    # columns (rule_idx, key, ID), so it is pushed below the window and
    # only sampled (or blind-key) records are ranked
    is_blind = F.concat_ws(
        _KEY_SEP, F.col("rule_idx").cast("string"), F.col("key")
    ).isin(blind)
    batch_df = (
        words.filter("_isb")
        .groupBy("rule_idx", "key", "_w")
        .agg(F.count("*").alias("_bdf"))
    )
    opposite_df = F.when(
        F.col("_isb"), F.col("_wdf") - F.coalesce("_bdf", F.lit(0))
    ).otherwise(F.coalesce("_bdf", F.lit(0)))
    est = {
        (r["rule_idx"], r["key"]): r["_est"]
        for r in prefix.filter(
            (F.pmod(F.xxhash64(C.ID), mod) == 0) | is_blind
        )
        .join(batch_df, ["rule_idx", "key", "_w"], "left")
        .groupBy("rule_idx", "key")
        .agg(
            F.sum(
                opposite_df * F.when(is_blind, 1).otherwise(mod)
            ).alias("_est")
        )
        .collect()
    }
    routed = [
        rk
        for rk, (nb, nc) in nb_map.items()
        if est.get(rk, 0) < CROSS_REFINE_COST_RATIO * nb * nc
    ]
    import os as _os

    if _os.environ.get("SPARK_GRAFT_DEBUG_CROSS") == "1":
        import sys as _sys

        print(
            "[cross-refine] cand="
            + repr([(rk, nbc, est.get(rk, 0)) for rk, nbc in nb_map.items()])
            + f" routed={len(routed)}",
            file=_sys.stderr,
            flush=True,
        )
    if not routed:
        return None
    routed_df = F.broadcast(
        spark.createDataFrame(routed, schema="rule_idx int, key string")
    )
    base, words, prefix = (
        df.join(routed_df, ["rule_idx", "key"], "semi")
        for df in (base, words, prefix)
    )
    b, c = base.filter("_isb"), base.filter(~F.col("_isb"))
    raw = _refined_hot_pairs(
        b, c, prefix.filter("_isb"), words.filter(~F.col("_isb")),
        salt_bucket_size,
    ).unionByName(
        _refined_hot_pairs(
            c, b, prefix.filter(~F.col("_isb")), words.filter("_isb"),
            salt_bucket_size,
        )
    )
    return raw, base.select(C.ID, "rule_idx", "key"), routed_df


def block_delta(
    batch_prepared: DataFrame,
    corpus_keys: DataFrame,
    corpus_records: DataFrame,
    broadcast_batch: bool = True,
    fresh_corpus_keys: DataFrame | None = None,
    max_block_size: int | None = None,
    hot_key_strategy: str = "salt",
    crossing_refine_min_pairs: float | None = None,
    cache_out: list | None = None,
) -> DataFrame:
    """Incremental blocking: batch×batch plus batch×corpus pairs ONLY.

    Produces exactly ``block(corpus ∪ batch)`` restricted to pairs that
    touch the batch, without touching corpus×corpus again and — the
    scale point — WITHOUT re-exploding the corpus: candidate generation
    is an equi-join of the batch key rows against the persisted
    ``corpus_keys`` index (:func:`corpus_key_table`, the same key-row
    schema and hashed payload the in-corpus path joins). At 10^12 corpus
    rows each micro-batch costs O(|batch| + matching key groups), not
    O(|corpus|). The batch's key rows are built once and feed every
    join; the within-batch pairs share :func:`candidate_pairs`' router
    (:func:`_route_pairs`), and within and crossing raw pairs go through
    ONE prune + aggregate step (:func:`_prune_aggregate`).

    ``broadcast_batch=True`` (micro-batch default) hints the batch side
    broadcast — zero exchange anywhere. For LARGE batches (backfills)
    pass ``broadcast_batch=False`` and point ``corpus_keys`` at the
    compacted (rule_idx, key)-bucketed table
    (sources.io.compact_corpus_index): the sort-merge join then reads the
    index's buckets directly and exchanges ONLY the batch side — the
    index, the 10^12-row side, never shuffles (pinned by
    tests/test_streaming.py plan assertion). ``fresh_corpus_keys`` holds
    the small post-compaction parquet appends; they join separately
    (batch side broadcast) so their union does not erase the bucketed
    table's exchange-free property.

    Hot keys — a DEGENERATE key shared corpus-wide (measured in the wild:
    a webpages adapter collapsing every author to one token) makes the
    batch×batch join quadratic in |batch ∩ key| and the batch×corpus
    fan-out grow WITH THE CORPUS, so per-batch cost stops being flat:

    - ``hot_key_strategy="salt"`` (default when ``max_block_size`` set):
      the batch's hot keys (:func:`_precheck_rows`) take the router's
      salted or refined path (identical pair set, bounded join groups).
      For the crossing side, hot require-title-overlap keys at or above
      the fan-out floor ``crossing_refine_min_pairs`` (default
      CROSS_REFINE_MIN_PAIRS; ``math.inf`` keeps the pure fan-out and
      asks nothing) route through :func:`_refined_crossing_pairs` (the
      shared AllPairs generator probed in both directions, est-gated by
      CROSS_REFINE_COST_RATIO, with the exact downstream prune and the
      attribution-recovery join — pair set identical, pinned by
      test_block_delta_crossing_refinement_matches_combined and the
      block_delta fuzz differential); measured 1.5× at a 1500×12000
      entropic-title degenerate key and growing with the corpus, while
      dense-vocabulary keys (word join emission ≥ ~10% of the fan-out)
      stay on the fan-out join, which remains the cheaper exact plan
      there. ``cache_out`` collects the refinements' per-batch persists
      for the caller to release (streaming convention).
    - ``"drop"``: keys whose COMBINED (corpus + batch [+ fresh])
      membership exceeds ``max_block_size`` are dropped from BOTH sides —
      bounded per-batch output, exactly equal to
      ``block(corpus ∪ batch, max_block_size, "drop")`` restricted to
      batch-touching pairs (pinned in test_block_salting).

    ``corpus_records`` should be the ID-bucketed table so the enrichment
    joins read co-located buckets.
    """
    batch_keys = corpus_key_table(batch_prepared)
    corpus_frames = [corpus_keys]
    if fresh_corpus_keys is not None:
        corpus_frames.append(fresh_corpus_keys)
    salt = max_block_size is not None and hot_key_strategy == "salt"

    hot_rows = []
    if salt:
        hot_rows = _precheck_rows(
            batch_keys, None, min(max_block_size, SALT_BUCKET_SIZE), False
        )
    elif max_block_size is not None and hot_key_strategy == "drop":
        # combined membership counts: one slim aggregation over the key
        # tables (2 int/short-string columns), matching the hot set the
        # combined block-with-drop would compute; the within-batch
        # router then sees no hot key
        hot = F.broadcast(
            reduce(
                DataFrame.unionByName,
                [f.select("rule_idx", "key") for f in [batch_keys, *corpus_frames]],
            )
            .groupBy("rule_idx", "key")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_block_size)
            .select("rule_idx", "key")
        )
        batch_keys, *corpus_frames = (
            f.join(hot, ["rule_idx", "key"], "left_anti")
            for f in [batch_keys, *corpus_frames]
        )
    # outside salt mode no batch key is hot here (drop removed them, or
    # nothing is capped): the plain self-join
    within, within_membership = _route_pairs(
        batch_keys, hot_rows, max_block_size if salt else None,
        hot_key_strategy, cache_out=cache_out,
    )

    # A DEGENERATE hot rto key fans each batch member out against the
    # whole corpus-side key group: O(|batch∩key| · |corpus∩key|) raw
    # rows per batch, growing with the corpus (measured 19→82 s/batch
    # over 6 batches on the degenerate probe).
    min_pairs = crossing_refine_min_pairs
    if min_pairs is None:
        min_pairs = CROSS_REFINE_MIN_PAIRS
    refined = None
    if salt and min_pairs < math.inf:
        refined = _refined_crossing_pairs(
            batch_keys,
            corpus_frames,
            min_pairs,
            min(max_block_size, SALT_BUCKET_SIZE),
            cache_out=cache_out,
        )
    hot_raw_pairs, cross_membership, hot_cross = refined or (None,) * 3

    probe = batch_keys
    if hot_cross is not None:
        # hot keys leave the fan-out join (their pairs come from the
        # refined generator); excluding the batch side alone removes the
        # key from the equi-join
        probe = batch_keys.join(hot_cross, ["rule_idx", "key"], "left_anti")
    probe = _sided(probe, "l", ("rule_idx", "rto", "key"))
    # the bulk index joins with the caller's broadcast choice; the fresh
    # appends always against the broadcast batch
    crossing = reduce(
        DataFrame.unionByName,
        [
            (F.broadcast(probe) if i or broadcast_batch else probe)
            .join(_sided(f, "r", ("rule_idx", "key")), ["rule_idx", "key"])
            .filter(F.col("ID_l") != F.col("ID_r"))
            .select(*_oriented_cols())
            for i, f in enumerate(corpus_frames)
        ],
    )
    if hot_raw_pairs is not None:
        crossing = crossing.unionByName(hot_raw_pairs)

    pairs = _prune_aggregate(
        within.unionByName(crossing), within_membership, cross_membership
    )
    all_records = corpus_records.unionByName(
        batch_prepared.select(*corpus_records.columns)
    ).filter(F.col(C.TITLE).isNotNull())
    return _enrich(pairs, all_records)
