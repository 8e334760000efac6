"""Error types.

Mirrors the reference's error surface (/root/reference/xorbits_sql/errors.py:
ExecuteError raised per plan step, UnsupportedError for unimplemented
expressions) while keeping Spark's own AnalysisException visible as the
``__cause__`` for debuggability.
"""


class XorbitsSQLSparkError(Exception):
    """Base class for engine errors."""


class ExecuteError(XorbitsSQLSparkError):
    """A query failed during analysis or execution.

    Reference parity: xorbits_sql wraps per-step failures in ExecuteError
    (reference executor.py:246-247). Here one Spark query == one "step", so
    the whole spark.sql() call is wrapped instead.
    """


class UnsupportedError(XorbitsSQLSparkError):
    """A SQL construct or argument the engine does not support.

    The reference raises this from its expression interpreter
    (reference executor.py:190-195); in this engine it is reserved for the
    thin shim layer (bad table specs, unsupported dialect options) because
    Spark SQL natively executes a superset of the reference's surface.
    """


class TableNotFoundError(ExecuteError):
    """A table referenced in the query was not registered."""


class PairBudgetExceededError(XorbitsSQLSparkError):
    """A pair-generating operator's pre-flight volume estimate exceeded
    its budget.

    Raised BEFORE the pair join runs (the estimate is observed on, or
    aggregated over, an index the operator materializes anyway), so a
    cluster-scale submission fails in seconds instead of spilling
    terabytes — the 100x rehearsal measured ~850 GB of spill for exact
    n-gram Jaccard on a dense-clique corpus (BASELINE.md). The message
    names the bounded alternatives (MinHash-LSH candidates,
    ``partition_col`` sharding, a tighter ``max_df``); pass
    ``pair_budget=None`` to run anyway.
    """


class AdvisoryWarning(UserWarning):
    """A query runs as asked, but a cheaper path to the same answer
    exists (e.g. the t15 -> u14 sampled blocking audit on dense
    corpora). A ``UserWarning``, so Python's default filters show it."""
