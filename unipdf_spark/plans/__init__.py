"""Plan inspection utilities: capture `.explain("formatted")` output and
assert the physical properties that matter at 100 TB (pushdown, pruning,
broadcast joins, codegen spans), and count each query's Python passes and
cache reads. Used by tests and `tools/explain_plans.py`.
"""

from .inspect import (  # noqa: F401
    explain_str,
    has_broadcast_join,
    n_broadcast_hints,
    pushed_filters,
    python_passes,
    read_schema_columns,
    walk,
)
