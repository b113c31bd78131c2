"""Perceptual image hashing + near-duplicate image detection.

The multimodal counterpart of MinHash text dedup: dHash (difference
hash — Krawetz's classic gradient hash) reduces every image to 64
bits by comparing adjacent pixels of an 8x9 grayscale thumbnail, and
near-duplicates are pairs within a small Hamming distance. Training
corpora carry byte-level-distinct but visually-identical images
(re-encodes, resizes, watermark crops); byte-exact dedup misses all
of them, and this catches the bulk at a 64-bit-per-image footprint.

Spark-first shape:
- hashing is a NARROW map. Under ``stub=True`` the thumbnail is the
  deterministic md5-tile fake the rest of the multimodal plumbing
  uses, and the whole hash is pure JVM expressions (md5 + conv +
  bit arithmetic — no Python, and the SQL oracle replays it
  bit-for-bit). Under ``stub=False`` real blobs (BMP/PPM/JPEG/PNG)
  decode inside mapInPandas and the SAME integer comparisons run in
  numpy, so both paths emit identical schemas.
- the 64-bit hash is carried as FOUR 16-bit band integers
  (h0..h3) rather than one int64: values stay far below 2^62 (DuckDB
  bigint-overflow portability), Hamming distance is
  sum(bit_count(xor(band))), and the bands double as the LSH keys.
- near-dup search is the banded self-join the text dedup family uses
  (dedup.py MinHash): by pigeonhole, two hashes within Hamming
  distance d < n_bands collide exactly on >= 1 band, so with the
  default max_hamming=3 and 4 bands the candidate join is EXHAUSTIVE
  (no recall loss), and candidates are verified with the exact
  Hamming distance. No all-pairs anywhere; candidates are linear in
  the number of colliding-band pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import cut, ensure_min_partitions

# dHash geometry: 8 rows x 9 columns -> 8x8 = 64 comparison bits,
# packed row-major into 4 bands of 16 bits (2 rows per band)
_GH, _GW = 8, 9
N_BANDS = 4
_BITS_PER_BAND = 16


def md5_byte_sql(hex_sql: str, index_sql: str, modulus: int) -> str:
    """SQL for digest byte (index mod modulus) of an md5 HEX STRING —
    the md5-tile fake-decode primitive shared by the image and audio
    stub fingerprints (keeps the two Spark templates from drifting;
    the DuckDB oracle builders mirror the same shapes). Callers pass a
    hex expression that is evaluated ONCE per row (a lambda variable
    from a one-element transform) — passing md5(blob) directly would
    re-hash the full blob per array element (216x per row for the
    image grid; measured as the dominant cost of the first bench)."""
    return (f"cast(conv(substring({hex_sql}, "
            f"(({index_sql}) % {modulus}) * 2 + 1, 2), 16, 10) as int)")


def band_fold_sql(b: int, left_idx: str, right_idx: str) -> str:
    """SQL folding 16 comparison bits into band integer h{b}: bit j =
    (g[left_idx] > g[right_idx]) weighted 2^(15-j), over a lambda
    array g."""
    return ("aggregate(sequence(0, 15), 0, (acc, j) -> acc + "
            f"if(element_at(g, {left_idx}) > element_at(g, {right_idx}),"
            f" shiftleft(1, 15 - j), 0)) as h{b}")


def _stub_bands_struct(blob_col_sql: str):
    """struct(h0..h3): the dHash bands of the md5-tile fake thumbnail
    (multimodal._fake_pixels replayed as JVM expressions).

    Built as ONE higher-order-function expression: the 72-entry gray
    array (channel SUM per pixel — integer-exact, engine-portable) is
    materialized once per row inside a one-element transform, and the
    bands fold over it with element_at. A naive per-bit unroll (64
    bits x 6 md5-substr chains) blows whole-stage codegen's 64 KB
    method limit and silently drops the row batch to interpreted
    mode — measured before this shape was chosen.

    Known stub-only limit (ADVICE r6, documented by choice): the
    16-byte digest tile gives gray[] period 16, so comparison bits at
    grid offsets i and i+16 coincide and the effective stub keyspace
    is ~2^16, not 2^64 — unrelated blobs collide at Hamming 0 with
    prob ~1/65536, mildly inflating stub near-dup counts at large N.
    The stub must replay multimodal._fake_pixels bit-for-bit (several
    oracles pin that parity), so the tile stays as-is; real decodes
    (stub=False) have no such limit, and the audio stub — which has
    no _fake_pixels contract — uses a decorrelated two-modulus tile
    instead (audio_dedup._stub_bands_struct)."""
    def byte(i):
        return md5_byte_sql("hx", i, 16)

    gray = (f"transform(sequence(0, {_GH * _GW - 1}), i -> "
            f"{byte('3*i')} + {byte('3*i+1')} + {byte('3*i+2')})")

    def idx(b, plus):
        # element_at needs INT; `div` yields BIGINT
        return (f"cast(((16*{b}+j) div 8) * {_GW} "
                f"+ ((16*{b}+j) % 8) + {plus} as int)")

    bands = ", ".join(band_fold_sql(b, idx(b, 1), idx(b, 2))
                      for b in range(N_BANDS))
    inner = f"element_at(transform(array({gray}), g -> struct({bands})), 1)"
    # outer one-element transform binds hx = md5(blob) ONCE per row
    return F.expr(
        f"element_at(transform(array(md5({blob_col_sql})), hx -> {inner}), 1)")


def _real_bands(raw: bytes) -> list[int]:
    """dHash bands of a real decoded blob: decode, nearest-resize to
    8x9, channel-sum grayscale, adjacent-column compare — the same
    integer math as the stub expressions."""
    from dask_ml_spark.datapipe.multimodal import _decode_any, _resize_nearest

    px = _resize_nearest(_decode_any(raw), _GH, _GW).astype("int64")
    gray = px.sum(axis=2)
    bits = (gray[:, :-1] > gray[:, 1:]).astype("int64").ravel()  # 64 bits
    out = []
    for b in range(N_BANDS):
        chunk = bits[16 * b:16 * (b + 1)]
        out.append(int((chunk << np.arange(15, -1, -1)).sum()))
    return out


def image_hashes(df: DataFrame, blob_col: str = "blob",
                 id_col: str = "doc_id", stub: bool = True) -> DataFrame:
    """(id, h0..h3) — the dHash of every image, as four 16-bit band
    integers. Narrow map either way; see the module docstring for the
    stub/real split."""
    if stub:
        s = _stub_bands_struct(blob_col)
        # cast to long: the mapInPandas real path emits int64 bands,
        # and the stub/real schema-parity contract is load-bearing
        # (r7 parity test caught the int-vs-bigint drift)
        return ensure_min_partitions(df).select(
            F.col(id_col), s.alias("__s")).select(
            id_col, *[F.col(f"__s.h{i}").cast("long").alias(f"h{i}")
                      for i in range(N_BANDS)])

    import pandas as pd
    from pyspark.sql import types as T

    def _hash(it):
        for pdf in it:
            rows = [_real_bands(bytes(d) if d is not None else b"")
                    for d in pdf[blob_col]]
            arr = np.asarray(rows, dtype="int64").reshape(-1, N_BANDS)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "h0": arr[:, 0], "h1": arr[:, 1],
                "h2": arr[:, 2], "h3": arr[:, 3]})

    id_field = df.schema[id_col]
    schema = T.StructType([id_field] + [
        T.StructField(f"h{i}", T.LongType()) for i in range(N_BANDS)])
    return ensure_min_partitions(
        df.select(id_col, blob_col)).mapInPandas(_hash, schema=schema)


def hamming_expr(left_prefix: str, right_prefix: str):
    """Exact 64-bit Hamming distance from two banded hash column sets
    (e.g. 'a.h' vs 'b.h')."""
    d = F.lit(0)
    for i in range(N_BANDS):
        d = d + F.bit_count(
            F.col(f"{left_prefix}{i}").bitwiseXOR(F.col(f"{right_prefix}{i}")))
    return d


def image_near_dup(df: DataFrame, blob_col: str = "blob",
                   id_col: str = "doc_id", max_hamming: int = 3,
                   stub: bool = True,
                   collapse_exact: bool = False) -> DataFrame:
    """Near-duplicate image PAIRS: (id_a, id_b, hamming) with
    id_a < id_b and hamming <= max_hamming.

    Candidates come from the banded self-join: with 64 bits in 4 bands,
    any pair within Hamming distance <= 3 shares >= 1 identical band
    (pigeonhole), so recall is exact for max_hamming <= 3; larger
    thresholds are supported but probabilistic (documented LSH trade,
    same as the MinHash banding). Identical re-encodes (hamming 0)
    always collide on all bands.

    Scale: explode to (id, band_idx, band_val); self-join on the
    uniform (band_idx, band_val) key; multi-band collisions dedup
    AFTER the cheap integer distance (pairs carry 8 small ints, never
    pixels); per-pair work is O(1). The verify step keeps the join
    output linear in true candidates.
    """
    hashes = image_hashes(df, blob_col, id_col, stub=stub)
    return banded_hamming_pairs(hashes, id_col, max_hamming,
                                collapse_exact=collapse_exact)


def banded_hamming_pairs(hashes: DataFrame, id_col: str,
                         max_hamming: int,
                         collapse_exact: bool = False) -> DataFrame:
    """The shared banded-Hamming candidate join over an (id, h0..h3)
    frame — image dHash and audio fingerprints both route here. See
    `image_near_dup` for the pigeonhole recall contract.

    collapse_exact=True is the 100 TB posture for corpora with heavy
    EXACT duplication (one logo re-encoded 10^6 times): identical
    fingerprints collapse to their min-id representative in one
    groupBy BEFORE the banded join, so the band key never goes hot
    with same-hash members and the pair output stays linear in
    DISTINCT fingerprints — C(10^6, 2) same-hash pairs is a quadratic
    OUTPUT no join strategy survives. Pairs then reference
    representatives; recover full membership with a plain
    groupBy(h0..h3) when needed (the exact-dedup keep-one pattern).
    The default (False) emits every id pair — the brute-force-oracle
    contract at test SFs."""
    if max_hamming >= _BITS_PER_BAND * N_BANDS:
        raise ValueError("max_hamming must be < 64")
    if collapse_exact:
        hashes = (hashes.groupBy("h0", "h1", "h2", "h3")
                  .agg(F.min(id_col).alias(id_col))
                  .select(id_col, "h0", "h1", "h2", "h3"))
    # both sides of the self-join read this frame; without
    # materialization the (expensive) fingerprint expression computes
    # once per side — twice more when the planner broadcasts a side,
    # where no exchange reuse can fire. One 5-column row per item (the
    # 64-bit-per-image footprint).
    hashes = cut(hashes)
    entries = F.array(*[
        F.struct(F.lit(i).alias("band"), F.col(f"h{i}").alias("val"))
        for i in range(N_BANDS)])
    keyed = (hashes.select(
        F.col(id_col), F.col("h0"), F.col("h1"), F.col("h2"), F.col("h3"),
        F.explode(entries).alias("__e"))
        .select(id_col, "h0", "h1", "h2", "h3",
                F.col("__e.band").alias("band"),
                F.col("__e.val").alias("val")))
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (a.join(b, ["band", "val"])
             .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     *[F.col(f"a.h{i}").alias(f"ah{i}") for i in range(N_BANDS)],
                     *[F.col(f"b.h{i}").alias(f"bh{i}") for i in range(N_BANDS)])
             .withColumn("hamming", hamming_expr("ah", "bh").cast("long"))
             .where(F.col("hamming") <= max_hamming)
             # multi-band collisions produce the same pair once per
             # shared band — dedup on the light (id, id, dist) rows
             .select("id_a", "id_b", "hamming").dropDuplicates(
                 ["id_a", "id_b"]))
    return pairs
