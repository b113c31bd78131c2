"""Benchmark decontamination (beyond-reference).

A training-data pipeline must detect corpus documents that overlap an
evaluation/benchmark set before training (test-set leakage). The
standard method is word n-gram overlap: shingle both sides, count how
many of a document's distinct shingles appear anywhere in the eval
set, and flag documents whose overlap fraction crosses a threshold.

Scale shape: the eval side is small (benchmark suites are thousands of
documents), so its distinct-shingle set broadcasts; the corpus side is
one explode + broadcast-join + per-doc count — a narrow pass over the
100 TB side with no corpus-vs-corpus self-join anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.datapipe.dedup import shingles_from_tokens, tokens_expr
from dask_ml_spark.utils import cut


def contamination_scores(docs: DataFrame, eval_docs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         shingle_n: int = 3) -> DataFrame:
    """Per-document overlap with the eval set.

    Returns (id_col, n_shingles, n_overlap, contamination) where
    contamination = |doc shingles ∩ eval shingles| / |doc shingles|
    (0.0 for docs with no shingles). Distinct shingles on both sides —
    a repeated n-gram counts once, the standard convention.
    """
    doc_sh = (
        docs.select(F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col), F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("shingle"))
    )
    eval_sh = (
        eval_docs.select(tokens_expr(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("shingle"))
        .distinct()
    )
    # doc_sh is scanned twice (sizes + overlap) but is CORPUS-scale, so
    # no cut: persist() leaks the session CacheManager entry and a cut
    # would materialize the whole corpus's shingles on executors. It is
    # a pure narrow map+explode — the second consumer re-runs one
    # narrow scan. The eval set broadcasts.
    sizes = doc_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    overlap = (
        doc_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        sizes.join(overlap, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame,
                  threshold: float = 0.2, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Drop corpus documents whose eval-set overlap fraction reaches
    ``threshold``; anti-join on the flagged id set so the surviving
    rows keep their full original schema."""
    flagged = (
        contamination_scores(docs, eval_docs, text_col, id_col, shingle_n)
        .where(F.col("contamination") >= threshold)
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")


def contamination_scores_bloom(docs: DataFrame, eval_docs: DataFrame,
                               text_col: str = "text", id_col: str = "doc_id",
                               shingle_n: int = 3,
                               bits_per_item: int = 10,
                               n_hashes: int = 7) -> DataFrame:
    """Bloom-prefiltered ``contamination_scores`` — IDENTICAL output,
    cheaper join at scale.

    The eval shingle set folds into a Bloom bitmap built from pure
    column expressions (xxhash64 double-hashing, Kirsch-Mitzenmacher:
    bit_i = (h1 + i*h2) mod m) — one aggregate collects the set bit
    POSITIONS (at most n_hashes x |eval shingles| ints; benchmark
    suites are small), and the bitmap embeds in the plan as a literal
    array of longs. Corpus shingles the filter rejects are dropped by
    a NARROW whole-stage-codegen projection BEFORE the exact
    broadcast-join verify: at 100 TB the definite-negative shingles —
    the overwhelming majority — never reach the join. False positives
    (rate ~0.8^n_hashes at 10 bits/item) only admit extra rows into
    the exact join, never a wrong answer, so the output is
    deterministic and shares the exact path's oracle verbatim.
    """
    eval_sh = cut(
        eval_docs.select(tokens_expr(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_from_tokens(F.col("__toks"), shingle_n))
                .alias("shingle"))
        .distinct()
    )
    n_items = max(eval_sh.count(), 1)
    m = max(64, n_items * bits_per_item)

    def _bits(shingle_col):
        h1 = F.xxhash64(shingle_col)
        h2 = F.xxhash64(shingle_col, F.lit(1))
        return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(n_hashes)]

    positions = [r[0] for r in
                 eval_sh.select(F.explode(F.array(*_bits(F.col("shingle"))))
                                .alias("b")).distinct().collect()]
    words = [0] * ((m + 63) // 64)
    for b in positions:
        words[b // 64] |= 1 << (b % 64)
    # no pin on the corpus-scale shingle explode (see
    # contamination_scores) — narrow recompute per consumer
    doc_sh = (
        docs.select(F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col),
                F.explode(shingles_from_tokens(F.col("__toks"), shingle_n))
                .alias("shingle"))
    )
    sizes = doc_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    # the membership test references the two hashes and the bitmap
    # through named columns, so each appears ONCE in the plan (inlining
    # the literal array per hash test would multiply it n_hashes times
    # and recompute every xxhash64 4x); shiftleft needs a column shift,
    # which only the SQL form accepts
    bitmap = F.array(*[F.lit(w - (1 << 64) if w >= (1 << 63) else w)
                       .cast("long") for w in words])
    probed = (doc_sh
              .withColumn("__bm", bitmap)
              .withColumn("__h1", F.xxhash64("shingle"))
              .withColumn("__h2", F.xxhash64("shingle", F.lit(1))))
    tests = []
    for i in range(n_hashes):
        bit = f"pmod(__h1 + {i}L * __h2, {m}L)"
        tests.append(
            f"(element_at(__bm, cast({bit} div 64 as int) + 1) & "
            f"shiftleft(1L, cast(pmod({bit}, 64) as int))) != 0")
    candidates = (probed.where(F.expr(" AND ".join(tests)))
                  .drop("__bm", "__h1", "__h2"))
    overlap = (candidates.join(F.broadcast(eval_sh), "shingle")
               .groupBy(id_col).agg(F.count("*").alias("n_overlap")))
    return (
        sizes.join(overlap, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
    )
