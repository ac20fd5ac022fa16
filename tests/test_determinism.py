"""Parallelism-determinism: the quantize-before-sum / all-integer design
claims results are BIT-IDENTICAL at any parallelism (SURVEY.md §2B's
determinism rules). Prove it: run representative statistic-bearing
queries under different shuffle-partition counts and input partitionings
and require byte-equal sorted results — a double summed in shuffle order
would flake here long before it flaked against the DuckDB oracle.
"""

from __future__ import annotations

import pytest

from kstreamjs_spark.queries import all_queries

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


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", CLAIMANTS)
def test_result_invariant_under_parallelism(spark, sf_smoke, name):
    fn = SPECS[name].fn
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        narrow = _canon(fn(spark, sf_smoke))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        wide = _canon(fn(spark, sf_smoke))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert narrow == wide, (
        f"{name} changed under a different shuffle partitioning — "
        "an aggregation is order-sensitive"
    )
