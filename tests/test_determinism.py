"""Parallelism-determinism: the quantize-before-sum / all-integer design
claims results are BIT-IDENTICAL at any parallelism (SURVEY.md §2B's
determinism rules). Prove it: run representative statistic-bearing
queries under different shuffle-partition counts and input partitionings
and require byte-equal sorted results — a double summed in shuffle order
would flake here long before it flaked against the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.queries import all_queries

from .conftest import exchange_widths

SPECS = all_queries()

# Statistic-bearing queries whose docstrings claim order-free exactness:
# entropy/corr (transcendentals quantized before summation), Gini (decimal
# rank-sum), percentiles (integer histograms), temperature mix (quantized
# sqrt shares), KS drift (decimal cross products), LM perplexity bands.
CLAIMANTS = [
    "q96_token_entropy",
    "q97_length_type_corr",
    "q109_skew_gini",
    "q131_value_percentiles",
    "q142_len_rep_corr",
    "q156_temperature_mix",
    "q130_length_ks_drift",
    "q120_perplexity_bands",
]


WIDTH_KEYS = (
    # batch exchanges under AQE take this width ...
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    # ... and plans without AQE take this one
    "spark.sql.shuffle.partitions",
)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", CLAIMANTS)
def test_result_invariant_under_parallelism(spark, sf_smoke, name):
    fn = SPECS[name].fn
    prev = {k: spark.conf.get(k) for k in WIDTH_KEYS}
    runs = {}
    try:
        for n in (2, 17):
            for k in WIDTH_KEYS:
                spark.conf.set(k, str(n))
            # the key's literal 16 must not be read as the width
            key = F.pmod(F.col("id"), F.lit(16)).alias("k")
            probe = spark.range(10).groupBy(key).count()
            assert exchange_widths(probe) == {n}
            runs[n] = _canon(fn(spark, sf_smoke))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert runs[2] == runs[17], (
        f"{name} changed under a different shuffle partitioning — "
        "an aggregation is order-sensitive"
    )
