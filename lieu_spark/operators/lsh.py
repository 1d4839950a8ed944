"""LSH banding + within-band candidate pair generation with explicit
skew handling.

Reference parity:
  - blocking-key emission      -> band keys of every family, MinHash
    bands and SimHash chunks in one table (lib/lieu/dedupe.py:250-325)
  - block self-pairing         -> band self-join (lib/lieu/spark/dedupe.py:57-88)
  - cross-dataset match()      -> band equi-join (lib/lieu/spark/dedupe.py:24-48)
  - sparse-geo-bucket merging  -> hot-band splitting (the skew-handling
    analog of lib/lieu/spark/geo_word_index.py:18-26, but for *hot* keys:
    bands whose member count exceeds ``hot_band_cap`` are sub-split by a
    salt hash so no single task materializes an O(n^2) pair blow-up).

Families share the band-number space: word bands 0..b-1, char bands
b..2b-1, SimHash chunks from 2b (operators/simhash_path.py). Each family
keeps its own skew policy (``_family_cap``) and chunk-family pairs are
confirmed by hamming distance (simhash_path.confirmed) in both joins.

The reference's two-pass "star pairing" inside blocks
(lib/lieu/spark/dedupe.py:63-88) existed to cut comparisons in huge
blocks; LSH bands are naturally small, and clustering correctness is
delegated to connected components, so a full a.id < b.id self-join per
band is both simpler and correct.

Scale notes (100 TB): the self-join shuffles on (band, band_hash, sub) —
the salt bounds the largest partition; AQE skew-join splits anything
moderate that remains. ``dropDuplicates(id_a, id_b)`` is the one extra
shuffle, same as the reference's ``distinct()``
(lib/lieu/spark/dedupe.py:78).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupeConfig
from ..functions.simhash import hamming64
from .simhash_path import chunk_band_table, confirmed, is_chunk_band

# a cap no group reaches: "never split" in the same plan shape as a cap
NEVER_SPLIT = 1 << 62


def band_table(
    features: DataFrame,
    cfg: DedupeConfig,
    id_col: str = "conv_id",
    sig_col: str = "sig",
    band_offset=None,
) -> DataFrame:
    """(id, sig) -> (id, band, band_hash); band cast to long so the
    xxhash64 chain matches the pure-python oracle bit-for-bit.
    ``band_offset`` (a Column, optional) shifts the band NUMBER after
    hashing — the gram-family tag used by band_table_dual; the hash
    chain itself is offset-independent."""
    r = cfg.lsh_rows
    # band hash via r element_at args instead of xxhash64(slice(...)):
    # bit-identical chain (multi-child hash folds values exactly like
    # one array child's elements) without allocating an r-element array
    # per band per doc — the same measured-8x rewrite as
    # text.shingle_hash_set.
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda i: F.struct(
            i.cast("long").alias("band"),
            F.xxhash64(
                i.cast("long"),
                *[F.element_at(F.col(sig_col), i * r + j + 1) for j in range(r)],
            ).alias("band_hash"),
        ),
    )
    off = band_offset if band_offset is not None else F.lit(0).cast("long")
    return (
        features.select(
            F.col(id_col).alias("id"), off.alias("_off"), F.explode(bands).alias("bk")
        )
        .select(
            "id",
            (F.col("bk.band") + F.col("_off")).alias("band"),
            F.col("bk.band_hash").alias("band_hash"),
        )
    )


def band_table_dual(
    features: DataFrame, cfg: DedupeConfig, id_col: str = "conv_id"
) -> DataFrame:
    """Bands over BOTH gram families for hysteresis-band docs.

    The band number carries the FAMILY tag (word bands 0..b-1, char
    bands b..2b-1), so a boundary-straddling near-dup pair — one doc
    char-primary, the other word-primary, both inside the hysteresis
    band — collides in the family they share; without the tag the two
    families' band spaces would only meet by hash accident. Docs
    outside the band have null alt_sig and emit exactly their primary
    family (single-family behavior, bit-identical candidates up to the
    family offset). Features without the dual columns (standalone
    query paths) fall back to plain primary banding.

    The SimHash chunk family (simhash_path.chunk_band_table: bands
    2b.., carrying the simhash) joins the table when
    cfg.with_simhash_path is on and the features carry ``simhash`` —
    content-bearing rows only, like every band. This is the one place
    the family is decided; MinHash rows carry a null simhash."""
    if "alt_sig" not in features.columns or "char_primary" not in features.columns:
        bands = band_table(features, cfg, id_col)
    else:
        b = cfg.lsh_bands
        fam = lambda is_char: F.when(is_char, F.lit(b)).otherwise(F.lit(0)).cast("long")  # noqa: E731
        primary = band_table(
            features, cfg, id_col, sig_col="sig", band_offset=fam(F.col("char_primary"))
        )
        alt = band_table(
            features.filter(F.col("alt_sig").isNotNull()),
            cfg,
            id_col,
            sig_col="alt_sig",
            band_offset=fam(~F.col("char_primary")),
        )
        bands = primary.unionByName(alt)
    if cfg.with_simhash_path and "simhash" in features.columns:
        chunks = chunk_band_table(
            features.filter(F.size("shingle_hashes") > 0), cfg, id_col
        )
        bands = bands.unionByName(chunks, allowMissingColumns=True)
    return bands


def sub_bucket(id_col, size_col, cap):
    """The shared hot-group sub-split rule: ceil(size/cap) xxhash64
    sub-buckets (``cap`` an int or a per-row Column); a group at/below
    ``cap`` lands in sub 0 (pmod(h, 1) is 0 for every hash).
    ``salted_groups`` (self-join path) and ``capped_group_join``
    (cross-dataset path) both derive their salt from THIS formula, so
    refresh/scratch sub-bucket parity is structural — a pair dropped by
    one path's salt is dropped by the other's, and below the cap both
    are lossless."""
    nsplit = F.greatest(F.lit(1), F.ceil(size_col / cap)).cast("long")
    return F.pmod(F.xxhash64(id_col), nsplit)


def salted_groups(
    df: DataFrame, key_cols: list[str], cap, id_col: str = "id"
) -> DataFrame:
    """Attach group size (``bsize``) + sub-split salt (``sub``) for hot
    blocking groups — shared by the band self-join (every family) and
    the ANN / SemDeDup bucket self-joins.

    Groups larger than ``cap`` (boilerplate-text signatures) are split
    into ceil(size/cap) salted sub-groups; pairs are generated only
    within a sub-group. Cross-sub-group pairs of a hot group are
    recovered by the other blocking keys of the same family (b-1 other
    bands / other simhash chunks) and flagged in metrics — see
    band_stats.

    ``bsize`` comes from a window over the group key (ONE exchange that
    the subsequent self-join re-keys from) rather than an aggregate +
    join-back (which planned as two extra exchanges per side —
    .explain-driven rewrite, see BENCH.md).
    """
    w = Window.partitionBy(*key_cols)
    return df.withColumn("bsize", F.count("*").over(w)).withColumn(
        "sub", sub_bucket(F.col(id_col), F.col("bsize"), cap)
    )


def _family_cap(cfg: DedupeConfig, band_cap: int | None):
    """Per-row hot-group cap of a band table: ``band_cap`` on the MinHash
    families, cfg.simhash_hot_chunk_cap on the chunk family. A None cap
    never splits — the chunk default, because the pigeonhole guarantee
    ("hamming <= chunks-1 collides on >= 1 chunk") can rest on exactly
    one chunk group, and splitting it loses the pair with no other chunk
    to recover it. None when neither family splits."""
    chunk_cap = cfg.simhash_hot_chunk_cap
    if band_cap is None and chunk_cap is None:
        return None
    lit_cap = lambda cap: F.lit(NEVER_SPLIT if cap is None else cap)  # noqa: E731
    return F.when(is_chunk_band(cfg), lit_cap(chunk_cap)).otherwise(lit_cap(band_cap))


def _with_simhash(bands: DataFrame) -> DataFrame:
    """(id, band, band_hash, simhash): band tables built without the
    chunk family (band_table, hand-built frames) get a null simhash."""
    sh = F.col("simhash") if "simhash" in bands.columns else F.lit(None).cast("long")
    return bands.select("id", "band", "band_hash", sh.alias("simhash"))


def capped_group_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    cap,
    left_id: str,
    right_id: str,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join with per-right-row fanout bounded on hot LEFT groups —
    the cross-dataset analog of salted_groups' self-join salting, shared
    by the band cross join (match_pairs) and the image-decon chunk join.
    ``cap`` is an int, a per-row Column (match_pairs' per-family cap) or
    None (plain join).

    Groups of size <= cap join fully; a hot group is split into
    ceil(size/cap) sub-buckets and a pair survives only when both ids
    hash to the same sub-bucket (xxhash64, the same rule salted_groups
    applies within one dataset), so each right row pairs with ~cap left
    rows. Dropped cross-sub pairs are recovered by the family's other
    blocking keys exactly as in the self-join path. Group sizes come
    from a narrow aggregate over the key columns (map-side combined —
    measured free at sf0.1), never a shuffle of the wide table.

    The sub-bucket is part of the JOIN KEY, not a post-join filter:
    each side joins the (narrow, AQE-broadcastable) size table and
    derives its own sub from its own id, so a 10M-member hot group
    never enumerates |group| x |incoming| rows inside one task only to
    filter them — the join itself produces only same-sub pairs. Output
    is row-identical to the filter form (same rule, same nsplit).

    ``broadcast_right=True`` is the streaming-ingest contract: |right|
    is micro-batch-small and the LEFT side must never shuffle. The
    naive composition (caller wraps right in F.broadcast) is a trap —
    the hint attaches to the right-vs-sizes INNER join and the outer
    keys+__sub join reverts to shuffling the full left band state per
    micro-batch. Here the hint is re-applied where it matters: the
    size table is pruned to right's groups (semantically free — left
    rows in groups absent from right never match) and broadcast into
    BOTH size joins, and the capped right side is re-broadcast into
    the outer join, so left flows through broadcast hash joins in a
    single scan (plus one narrow map-side-combined key agg for sizes).
    """
    if cap is None:
        return left.join(F.broadcast(right) if broadcast_right else right, keys)
    sizes = left.groupBy(*keys).agg(F.count("*").alias("__gsize"))
    if broadcast_right:
        sizes = F.broadcast(
            sizes.join(F.broadcast(right.select(*keys).distinct()), keys)
        )
    l2 = left.join(sizes, keys).withColumn(
        "__sub", sub_bucket(F.col(left_id), F.col("__gsize"), cap)
    )
    r2 = (
        right.join(sizes, keys)
        .withColumn("__sub", sub_bucket(F.col(right_id), F.col("__gsize"), cap))
        .drop("__gsize")
    )
    if broadcast_right:
        r2 = F.broadcast(r2)
    return l2.join(r2, [*keys, "__sub"]).drop("__sub", "__gsize")


def band_stats(bands: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Per-band-group metrics over every family: size + hot flag, hot
    against the group's own family cap (``_family_cap``; chunk groups
    are never hot while simhash_hot_chunk_cap is None)."""
    return (
        bands.groupBy("band", "band_hash")
        .agg(F.count("*").alias("bsize"))
        .withColumn(
            "is_hot", F.col("bsize") > _family_cap(cfg, cfg.hot_band_cap)
        )
    )


def band_pairs(bands: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Within-band self-pairing over every family -> (id_a, id_b, band,
    hamming), id_a < id_b, one row per colliding band (hamming is null
    on MinHash rows), chunk-family rows confirmed by hamming.

    Reference analog: lib/lieu/spark/dedupe.py:57-88 (block self-pairing
    with >1-member filter at :59-61 — groups of size 1 produce no pairs
    from the join naturally).
    """
    # materialize the salt via localCheckpoint-free projection barrier:
    # selecting concrete columns first keeps the self-join keys plain
    # attributes (otherwise Catalyst inlines the salt CASE expression
    # into the join condition — observed in .explain)
    salted = (
        salted_groups(
            _with_simhash(bands), ["band", "band_hash"],
            _family_cap(cfg, cfg.hot_band_cap),
        )
        .filter(F.col("bsize") > 1)
        .select("band", "band_hash", "sub", "id", "simhash")
    )
    side = lambda s: salted.select(  # noqa: E731
        "band", "band_hash", "sub",
        F.col("id").alias(f"id_{s}"), F.col("simhash").alias(f"simhash_{s}"),
    )
    return (
        side("a").join(side("b"), ["band", "band_hash", "sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("simhash_a"), F.col("simhash_b")))
        .filter(confirmed(F.col("hamming"), cfg))
        .select("id_a", "id_b", "band", "hamming")
    )


def candidate_pairs(
    bands: DataFrame, cfg: DedupeConfig, distinct: bool = True
) -> DataFrame:
    """``band_pairs`` -> distinct (id_a < id_b) candidates.

    ``distinct=False`` skips the pair-dedup exchange and returns the raw
    multi-band collisions (a pair appears once per colliding band) — for
    callers that immediately re-aggregate on (id_a, id_b) anyway, where
    the inner dedup would be a second full shuffle of the pair set for
    nothing. The distinct pair SET is identical either way.
    """
    pairs = band_pairs(bands, cfg).select("id_a", "id_b")
    return pairs.dropDuplicates(["id_a", "id_b"]) if distinct else pairs


def match_pairs(
    canonical_bands: DataFrame,
    incoming_bands: DataFrame,
    cfg: DedupeConfig,
    broadcast_incoming: bool = False,
    hot_cap: int | None = None,
) -> DataFrame:
    """Cross-dataset candidate generation over every family — parity
    with ``AddressDeduperSpark.match`` (lib/lieu/spark/dedupe.py:24-48):
    an equi-join of the two band tables, no self-pairing, pair =
    (canonical_id, incoming_id), chunk-family rows confirmed by hamming.

    ``broadcast_incoming=True`` is the streaming ingest shape: a small
    micro-batch matched against a huge stored band table — broadcasting
    the incoming side means the canonical side is never shuffled (one
    scan, no exchange), the right plan when |incoming| << |canonical|.

    ``hot_cap``: bound the per-incoming-row fanout on hot canonical
    MinHash band groups, mirroring band_pairs' salting — a boilerplate
    band with millions of standing members would otherwise emit
    |group| x |incoming-in-group| pairs. Chunk groups follow
    cfg.simhash_hot_chunk_cap (``_family_cap``). The broadcast hint
    composes with the cap INSIDE capped_group_join (it must be
    re-applied to the capped incoming side in the outer join — hinting
    here would defeat it). See capped_group_join."""
    def side(bands: DataFrame, name: str) -> DataFrame:
        return _with_simhash(bands).select(
            "band", "band_hash",
            F.col("id").alias(f"{name}_id"), F.col("simhash").alias(f"{name}_simhash"),
        )

    joined = capped_group_join(
        side(canonical_bands, "canonical"),
        side(incoming_bands, "incoming"),
        ["band", "band_hash"],
        _family_cap(cfg, hot_cap),
        "canonical_id",
        "incoming_id",
        broadcast_right=broadcast_incoming,
    )
    hamming = hamming64(F.col("canonical_simhash"), F.col("incoming_simhash"))
    return (
        joined.filter(confirmed(hamming, cfg))
        .select("canonical_id", "incoming_id")
        .dropDuplicates(["canonical_id", "incoming_id"])
    )
