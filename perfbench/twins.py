"""DuckDB correctness twins: what each timed call must return, computed
from the generated parquet alone, outside Spark."""

from __future__ import annotations

import duckdb


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # it writes to stdout
    return con


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    # arrow().to_pylist(): fetchall() would coerce HUGEINT/DECIMAL to int
    return con.execute(sql).arrow().to_pylist()


class LogTwin:
    """Last-writer-wins replay of a change log, at any commit_seq bound.

    ``state(hi)`` is the table a correct engine holds after applying every
    event with ``commit_seq < hi``: (repo, path) -> (commit_seq,
    sha256(content), content bytes) of each live key."""

    def __init__(self, log_glob: str):
        self.con = _connect()
        self.con.execute(
            "CREATE TABLE ev AS SELECT repo, path, commit_seq, op, "
            "sha256(content) AS sha, CAST(strlen(content) AS BIGINT) AS size "
            f"FROM read_parquet('{log_glob}')"
        )
        self._states: dict[int, dict] = {}

    def state(self, hi: int) -> dict[tuple[str, str], tuple[int, str, int]]:
        if hi not in self._states:
            rows = _rows(
                self.con,
                f"""SELECT repo, path, commit_seq, sha, size FROM (
                      SELECT * FROM ev WHERE commit_seq < {int(hi)}
                      QUALIFY row_number() OVER (
                        PARTITION BY repo, path ORDER BY commit_seq DESC) = 1
                    ) WHERE op <> 'delete'""",
            )
            self._states[hi] = {
                (r["repo"], r["path"]): (r["commit_seq"], r["sha"], r["size"]) for r in rows
            }
        return self._states[hi]

    def close(self) -> None:
        self.con.close()


def totals(state: dict) -> tuple[int, int]:
    """(live rows, live content bytes)."""
    return len(state), sum(v[2] for v in state.values())


def net_changes(old: dict, new: dict) -> list[tuple[str, str, str, int]]:
    """The change feed between two states: sorted (change_type, repo,
    path, commit_seq) rows, net over the span."""
    out = []
    for k in old.keys() | new.keys():
        a, b = old.get(k), new.get(k)
        if a is None:
            out.append(("insert", *k, b[0]))
        elif b is None:
            out.append(("delete", *k, a[0]))
        elif a[0] != b[0]:
            out.append(("update_preimage", *k, a[0]))
            out.append(("update_postimage", *k, b[0]))
    return sorted(out)


def neardup_pairs(
    docs_glob: str, threshold: float
) -> dict[int, set[tuple[int, int, int]]]:
    """Per micro-batch, the (probe_id, indexed_id, est_jaccard_ppm) rows a
    probe must return against everything indexed before it.

    One run of the engine's own SQL twin (``minhash_index_sql``, default
    index parameters) over the whole corpus, probing every batch document
    against every document; pairs whose partner was indexed later than the
    probe are then dropped. ``docs_glob`` files carry ``doc_id, text,
    batch_no`` (-1 for the base)."""
    from kafka_connect_claim_check_smt_spark.operators.dedup_index import minhash_index_sql

    con = _connect()
    try:
        con.execute(f"CREATE TABLE docs AS SELECT * FROM read_parquet('{docs_glob}')")
        batch_of = {
            r["doc_id"]: r["batch_no"] for r in _rows(con, "SELECT doc_id, batch_no FROM docs")
        }
        rows = _rows(
            con,
            minhash_index_sql(
                "docs", "doc_id", "text", indexed_pred="true",
                probe_pred="t.batch_no >= 0", threshold=threshold,
            ),
        )
    finally:
        con.close()
    out: dict[int, set] = {}
    for r in rows:
        b = batch_of[r["probe_id"]]
        if batch_of[r["indexed_id"]] < b:
            out.setdefault(b, set()).add(
                (r["probe_id"], r["indexed_id"], r["est_jaccard_ppm"])
            )
    return out
