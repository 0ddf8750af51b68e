"""Plan-inspection helpers shared by the structural plan gates. The
catalog gate runs per query on the oracle mirror's build (`build_gated`
in tests/test_oracle.py); tests/test_window_sweep.py holds its whitelist
and the parser and capture self-checks."""

from hw_kafka_flink_health_spark.plans.windows import (  # noqa: F401
    analyzed_str,
    capture_checkpoints,
    split_top_level,
    unpartitioned_specs,
)
