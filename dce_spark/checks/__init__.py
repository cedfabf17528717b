"""Check implementations.

Row-local checks (schema nullability, constraints, completeness,
uniqueness, freshness, target-leakage correlation) contribute Column
expressions to ONE fused ``df.agg`` pass (see dce_spark/compiler.py) —
unlike the reference, which issues O(fields x checks) separate SQL
statements (datafusion_engine.rs:288-310 et al.). The exact uniqueness
distinct count and the grouped checks (class balance,
null-rate-by-group, temporal split, no-overlap, feature drift) each run
as their own job, concurrently with the fused pass, over the same
uncached input.
"""

from .probe import AggProbe

__all__ = ["AggProbe"]
