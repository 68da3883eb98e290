"""JDBC backend for polling-mode CDC (S8 against a live database).

The reference polls over HikariCP (``polling/CDCPoller.java:50-222``,
``DefaultPollingStrategy.java:64-168``). Under Spark the same semantics map
onto ``spark.read.jdbc``:

- **offset discovery** (S9): ``SELECT MAX(col)`` pushed down as a one-row
  subquery (``DefaultPollingStrategy.java:109-132`` incl. the ``-1`` empty
  sentinel);
- **incremental scan** (S10): ``WHERE col > ? AND col <= ?`` executed
  REMOTELY via ``predicates=`` — one predicate per partition, so a large
  catch-up range fans out across executors with each executor opening its
  own connection (pooling per partition is Spark-managed; the reference's
  HikariCP/JNDI layer S12 is obsolete here);
- **vendor SQL** (S11): Spark's ``JDBCDialects`` pick quoting/types per URL;
  a ``dbtable`` subquery override is exposed for parity with the
  ``<dbName>.recordSelectQuery`` YAML override
  (``PollingStrategy.java:127-205``).

The SQL/plan builders below are pure (unit-testable without a database);
callers hand them to ``spark.read.jdbc``. They share offset semantics with
the parquet-backed ``cdc-poll`` stream reader (``sources/polling.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from siddhi_io_cdc_spark.sources.polling import EMPTY_SENTINEL


def max_offset_query(table: str, polling_column: str) -> str:
    """Pushed-down seed query (DefaultPollingStrategy.java:115)."""
    return f"(SELECT MAX({polling_column}) AS max_off FROM {table}) AS seed"


def incremental_query(
    table: str,
    polling_column: str,
    columns: Sequence[str] | None = None,
    select_query_override: str | None = None,
) -> str:
    """Base subquery for the incremental scan; the range predicate is applied
    via ``predicates=`` so it executes remotely per partition.

    ``select_query_override`` is the parity hook for the reference's
    per-vendor ``recordSelectQuery`` YAML override
    (``PollingStrategy.java:127-205``, S11): ``{{TABLE_NAME}}`` and
    ``{{COLUMN_LIST}}`` placeholders are substituted; the WHERE condition
    stays predicate-driven (Spark pushes it per partition).
    """
    cols = ", ".join(columns) if columns else "*"
    if select_query_override:
        q = select_query_override.replace("{{TABLE_NAME}}", table).replace(
            "{{COLUMN_LIST}}", cols
        )
        return f"({q}) AS incr"
    return f"(SELECT {cols} FROM {table}) AS incr"


def range_predicates(polling_column: str, low, high, num_partitions: int = 4) -> list[str]:
    """Partition the (low, high] scan into per-executor WHERE clauses.

    Mirrors the remote ``WHERE pollingColumn > ?`` of
    ``DefaultPollingStrategy.java:142-145``, widened to a bounded range and
    split for parallel reads (SURVEY.md §7 scale rule). Non-integer bounds
    (timestamps, strings) fall back to a single predicate — correctness
    first, parallelism only where ranges are divisible.
    """
    col = polling_column
    if high is None:
        return [f"{col} IS NULL AND 1=0"]  # empty scan
    low_unbounded = low is None or low == EMPTY_SENTINEL
    if not isinstance(low, int) or not isinstance(high, int) or num_partitions <= 1:
        base = f"{col} <= {_sql_lit(high)}"
        return [base if low_unbounded else f"{col} > {_sql_lit(low)} AND {base}"]
    lo = low if not low_unbounded else None
    if lo is not None and high <= lo:
        return [f"{col} IS NULL AND 1=0"]
    if lo is None or high - lo <= num_partitions:
        base = f"{col} <= {high}"
        return [base if lo is None else f"{col} > {lo} AND {base}"]
    span = high - lo
    step = span // num_partitions
    preds, cur = [], lo
    for i in range(num_partitions):
        nxt = high if i == num_partitions - 1 else cur + step
        preds.append(f"{col} > {cur} AND {col} <= {nxt}")
        cur = nxt
    return preds


def _sql_lit(v) -> str:
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"
