"""Output checks that do not trust the engine.

The expected state comes from DuckDB replaying the generated log with the
oracle SQL of the 50-row gate (`pyspark_cdc.queries.engine._base_ctes`):
JSON extraction, document selection, delete handling and the explicit
(lsn, tx, ts, offset) last-writer-wins ranking are all DuckDB's, never
Spark's. Engine answers are compared per key on (repo, path) ->
(sha256(content), route), and a key the engine returns twice is itself a
wrong answer (a stale version beside the fresh one).

The comparison functions are pure Python over lists and dicts, so the
tests can feed them deliberately wrong answers without a Spark session.
"""

from __future__ import annotations

from collections import Counter

# key -> (content sha256 hex or None, route)
State = dict[tuple[str, str], tuple]
# an engine answer: (key, (content sha256 hex, route)) per returned row
Rows = list[tuple[tuple[str, str], tuple]]

_WINNERS = """
SELECT repo, path, sha256(content) AS h, route FROM (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path
      ORDER BY lsn DESC, tx DESC, ts DESC, "offset" DESC) AS rn
  FROM oracle_keyed WHERE "offset" < ?
) WHERE rn = 1 AND NOT is_del
"""


class Oracle:
    """DuckDB replay of a Kafka-shaped parquet log. `state(bound)` is the
    table state after every event with offset < bound has been applied,
    so one replay answers every prefix a workload committed."""

    def __init__(self, parquet_files: list[str], temp_dir: str, threads: int = 4):
        import duckdb

        from pyspark_cdc.queries.engine import _base_ctes

        files = ", ".join(f"'{f}'" for f in parquet_files)
        self._con = duckdb.connect()
        self._con.execute(f"SET threads = {int(threads)}")
        self._con.execute(f"SET temp_directory = '{temp_dir}'")
        self._con.execute(
            "CREATE TEMP TABLE oracle_keyed AS "
            + _base_ctes(f"read_parquet([{files}])")
            + ' SELECT repo, path, content, route, lsn, tx, ts, "offset", is_del'
            " FROM keyed"
        )

    def state(self, offset_bound: int) -> State:
        rows = self._con.execute(_WINNERS, [offset_bound]).fetchall()
        return {(r, p): (h, route) for r, p, h, route in rows}

    def close(self) -> None:
        self._con.close()


def diff(rows: Rows, want: State, limit: int = 3) -> list[str]:
    """Human-readable differences between the rows an engine returned and
    the expected state, empty when they agree."""
    counts = Counter(k for k, _ in rows)
    out = [f"{k} returned {n} times"
           for k, n in sorted(counts.items()) if n > 1][:limit]
    got = dict(rows)
    for k in sorted(set(want) - set(got))[:limit]:
        out.append(f"missing {k}")
    for k in sorted(set(got) - set(want))[:limit]:
        out.append(f"unexpected {k}")
    for k in sorted(k for k in set(got) & set(want) if got[k] != want[k])[:limit]:
        out.append(f"wrong {k}: got {got[k]} want {want[k]}")
    return out


def check_lookup(rows: Rows, want_all: State, keys: list[tuple[str, str]]) -> list[str]:
    """A lookup returns exactly the live rows among the requested keys."""
    return diff(rows, {k: want_all[k] for k in keys if k in want_all})


def check_route(rows: Rows, want_all: State, route: str) -> list[str]:
    """read(route=X) equals the oracle state filtered to route X."""
    return diff(rows, {k: v for k, v in want_all.items() if v[1] == route})


def apply_changes(before: State, changes: list[tuple]) -> State:
    """Apply read_changes rows (key, change_type, value) to a state the
    way a PK-replace downstream does: upserts replace, deletes remove."""
    out = dict(before)
    for key, change_type, value in changes:
        if change_type == "delete":
            out.pop(key, None)
        else:
            out[key] = value
    return out


def check_changes(before: State, changes: list[tuple], want_after: State) -> list[str]:
    """read_changes(a, b) applied to the state at a yields the state at b
    (the property its docstring promises), and emits each key once."""
    keys = [c[0] for c in changes]
    if len(keys) != len(set(keys)):
        return ["a key is emitted more than once"]
    return diff(list(apply_changes(before, changes).items()), want_after)
