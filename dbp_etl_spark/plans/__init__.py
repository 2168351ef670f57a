"""Physical-plan inspection helpers (pushdown / broadcast / exchange checks)."""

from dbp_etl_spark.plans.checks import (  # noqa: F401
    assert_broadcast_join,
    assert_pushed_filter,
    count_exchanges,
    plan_str,
)
