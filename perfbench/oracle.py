"""DuckDB oracle for the benchmark's correctness gate.

The spec is the engine's declarative one, evaluated over the landed files
themselves: reject malformed events (same reasons, same precedence), keep
the highest-LSN valid event per key, drop keys whose winner is a delete.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from gen import VOCAB_SIZE

REASON_SQL = f"""
CASE
  WHEN op IS NULL OR op NOT IN ('I', 'U', 'D') THEN 'unknown_op'
  WHEN op = 'D' THEN NULL
  WHEN tokens IS NULL THEN 'null_tokens'
  WHEN len(tokens) = 0 THEN 'empty_tokens'
  WHEN n_tok IS NULL OR n_tok <> len(tokens) THEN 'n_tok_mismatch'
  WHEN list_bool_or(list_transform(
         tokens, t -> t IS NULL OR t < 0 OR t >= {VOCAB_SIZE})) THEN 'token_out_of_vocab'
END"""


class Oracle:
    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def _log(self, files: list[str]) -> str:
        listed = ", ".join(f"'{f}'" for f in files)
        return f"(SELECT lsn, op, doc_id, tokens, n_tok, source FROM read_parquet([{listed}]))"

    def final_state_sql(self, files: list[str], where: str = "") -> str:
        """LWW state after ``files``; ``where`` restricts the keys (a key's
        state depends on its own events only)."""
        return f"""
        WITH valid AS (
          SELECT * FROM {self._log(files)} WHERE ({REASON_SQL}) IS NULL {where}
        ), latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY lsn DESC, (op = 'D') DESC) AS rn
          FROM valid
        )
        SELECT doc_id, tokens, n_tok, source FROM latest WHERE rn = 1 AND op <> 'D'"""

    def rejects(self, files: list[str]) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM {self._log(files)} WHERE ({REASON_SQL}) IS NOT NULL"
        ).fetchone()[0]

    def mismatches(self, got: pa.Table, files: list[str], keys: pa.Array | None = None) -> int:
        """Rows in the symmetric difference of ``got`` and the oracle state
        after ``files`` (restricted to ``keys`` when given)."""
        self.con.register("got", got)
        if keys is None:
            want = self.final_state_sql(files)
        else:
            self.con.register("probe", pa.table({"doc_id": keys}))
            want = self.final_state_sql(files, "AND doc_id IN (SELECT doc_id FROM probe)")
        n = self.con.execute(f"""
            WITH g AS (SELECT doc_id, tokens, n_tok, source FROM got), w AS ({want})
            SELECT (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w))
                 + (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g))
        """).fetchone()[0]
        self.con.unregister("got")
        return n

    def digest(self, files: list[str]) -> dict:
        """The input digest as read back from disk (see gen.digest)."""
        r = self.con.execute(f"""
            SELECT count(*), sum(lsn), coalesce(sum(n_tok), 0),
                   (SELECT coalesce(sum(t), 0) FROM (SELECT unnest(tokens) AS t
                      FROM read_parquet([{", ".join(f"'{f}'" for f in files)}]))),
                   count(*) FILTER (WHERE op = 'D'), sum(length(doc_id)),
                   count(DISTINCT doc_id)
            FROM {self._log(files)}""").fetchone()
        keys = ["rows", "lsn_sum", "n_tok_sum", "token_sum", "deletes",
                "doc_id_bytes", "distinct_keys"]
        return {k: int(v) for k, v in zip(keys, r)}

    def close(self) -> None:
        self.con.close()
