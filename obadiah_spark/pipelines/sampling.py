"""Deterministic hash sampling — the data-mixing primitive.

Training-data pipelines don't sample with RNGs: a sample must be
reproducible across reruns, stable under repartitioning, and
consistent between engines (the same document is in or out everywhere,
forever, for a given salt). The standard construction is a keyed hash
threshold: a document is kept iff the first 60 bits of
``md5(salt # key)`` fall below ``fraction * 2^60``. Properties:

* deterministic and order/partitioning-independent (pure map, no RNG
  state, no shuffle);
* different ``salt`` values give independent samples (disjoint
  experiments from one corpus without coordination);
* nested fractions are MONOTONE for a fixed salt: the 10% sample is a
  subset of the 20% sample — exactly what curriculum/ablation reruns
  need;
* cross-engine exact: the 60-bit integer compare is the repo's proven
  md5-hex convention (same arithmetic as the MinHash seeds), so a
  DuckDB oracle reproduces the row set bit-for-bit.

``stratified_sample`` applies per-stratum fractions (the data-mixing
form: sample web at 0.1, books at 1.0, ...); strata without an entry
are DROPPED — mixing weights are an explicit contract, not a default.

No reference-repo counterpart (market-data engine); LLM-pipeline brief.
r13 gate candidate (the r12 rotation window is at its 50-slot cap);
until then the pytest suite includes a value-level DuckDB differential
over the oracle SQL below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SAMPLE_BITS = 60
_SCALE = 1 << SAMPLE_BITS


def sample_key_expr(key: Column, salt: str) -> Column:
    """The 60-bit sampling hash over an arbitrary key EXPRESSION
    (``0 <= u < 2^60``) — one definition shared by the row samplers
    below and by consumers hashing derived keys (dsir's n-gram
    buckets), so the md5/60-bit convention cannot fork."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.lit(salt), key.cast("string"))), 1, 15),
        16, 10).cast("bigint")


def sample_key(key_col: str, salt: str) -> Column:
    """The 60-bit sampling hash as a bigint column (``0 <= u < 2^60``)."""
    return sample_key_expr(F.col(key_col), salt)


def _threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return int(fraction * _SCALE)


def hash_sample(df: DataFrame, fraction: float, key_col: str = "doc_id",
                salt: str = "sample") -> DataFrame:
    """Keep each row iff its keyed hash falls under ``fraction`` —
    adds the ``sample_u`` bigint so audits (and the oracle) can verify
    membership exactly."""
    u = sample_key(key_col, salt)
    return (df.withColumn("sample_u", u)
            .filter(F.col("sample_u") < _threshold(fraction)))


def stratified_sample(df: DataFrame, fractions: dict, strata_col: str,
                      key_col: str = "doc_id",
                      salt: str = "sample") -> DataFrame:
    """Per-stratum fractions (the mixing form); strata without an entry
    are dropped."""
    thr = F.lit(None).cast("bigint")  # no entry → dropped
    for stratum, frac in sorted(fractions.items(), key=lambda kv: str(kv[0])):
        thr = F.when(F.col(strata_col) == F.lit(stratum),
                     F.lit(_threshold(frac))).otherwise(thr)
    u = sample_key(key_col, salt)
    return (df.withColumn("sample_u", u)
            .withColumn("_thr", thr)
            .filter(F.col("_thr").isNotNull()
                    & (F.col("sample_u") < F.col("_thr")))
            .drop("_thr"))


def sample_u_sql(key_expr: str, salt: str) -> str:
    """THE sampling hash as a DuckDB expression — one definition shared
    by every oracle that replicates :func:`sample_key` (hash_sample,
    stratified_sample, corpus_prepare's mixing clause), so the md5 /
    60-bit convention cannot fork between them (review r12 finding)."""
    return (f"CAST(('0x' || substr(md5('{salt}' || '#' || "
            f"CAST({key_expr} AS VARCHAR)), 1, 15)) AS BIGINT)")


def hash_sample_oracle_sql(fraction: float, key_col: str = "doc_id",
                           salt: str = "sample",
                           table: str = "documents") -> str:
    """DuckDB replica of :func:`hash_sample` over ``table``."""
    return f"""
SELECT * FROM (
    SELECT *, {sample_u_sql(key_col, salt)} AS sample_u
    FROM {table}
) s WHERE sample_u < {_threshold(fraction)}
"""


def stratified_sample_oracle_sql(fractions: dict, strata_col: str,
                                 key_col: str = "doc_id",
                                 salt: str = "sample",
                                 table: str = "documents") -> str:
    """DuckDB replica of :func:`stratified_sample` (strata without an
    entry are dropped by the NULL threshold)."""
    cases = "\n        ".join(
        f"WHEN {strata_col} = '{stratum}' THEN {_threshold(frac)}"
        for stratum, frac in sorted(fractions.items(),
                                    key=lambda kv: str(kv[0])))
    return f"""
SELECT * EXCLUDE (_thr) FROM (
    SELECT *, {sample_u_sql(key_col, salt)} AS sample_u,
           CASE {cases} ELSE NULL END AS _thr
    FROM {table}
) s WHERE _thr IS NOT NULL AND sample_u < _thr
"""
