"""Config invariance: a query's result must not depend on how Spark plans
the shuffles behind it. The flagship digest is the widest single check —
payload kernel, as-of join, windows, text and scan in one plan."""

from __future__ import annotations

from ecg_feature_engineering_spark import contract

# (conf, value) pairs each run alone against the session default
_SWEEP = [
    ("spark.sql.shuffle.partitions", "1"),
    ("spark.sql.shuffle.partitions", "7"),
    ("spark.sql.shuffle.partitions", "200"),
    ("spark.sql.adaptive.enabled", "false"),
]


def test_flagship_digest_config_invariant(spark, sf_dir):
    """The registered flagship query collects the same rows under
    shuffle-partition counts 1/7/200 and with AQE off as under the
    session's default config."""
    def run():
        return contract.QUERY_BUILDERS["flagship"](spark, sf_dir).collect()

    base = run()
    for key, value in _SWEEP:
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            assert run() == base, f"{key}={value}"
        finally:
            spark.conf.set(key, old)
