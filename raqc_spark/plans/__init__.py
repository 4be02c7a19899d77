from raqc_spark.plans.inspect import (
    assert_no_row_python,
    assert_pushed_filter,
    explain_formatted,
)

__all__ = [
    "assert_no_row_python",
    "assert_pushed_filter",
    "explain_formatted",
]
