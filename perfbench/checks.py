"""Output checks against the DuckDB oracles.

Each op's row count is compared with the oracle's as the op finishes;
after the pass its values are compared too, in the canonical form of
``tools/check_parity.py`` (columns sorted by name, values formatted, rows
sorted).
"""

from __future__ import annotations

import importlib.util
import os

TABLES = ("events", "documents", "embeddings", "orders", "lineitem", "customer")


def load_canon(root: str):
    """``canon`` from the repository's parity tool, so the benchmark and
    the parity sweep compare values the same way."""
    path = os.path.join(root, "tools", "check_parity.py")
    spec = importlib.util.spec_from_file_location("_check_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


class Oracle:
    def __init__(self, tables_dir: str, canon) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(tables_dir, t + '.parquet')}'")
        self.canon = canon
        self._frames: dict[str, object] = {}

    def prepare(self, sqls) -> None:
        """Run the oracles ahead of the pass."""
        for sql in sqls:
            if sql is not None:
                self.frame(sql)

    def frame(self, sql: str):
        if sql not in self._frames:
            self._frames[sql] = self.con.sql(sql).df()
        return self._frames[sql]

    def close(self) -> None:
        self.con.close()

    def check_rows(self, sql: str, got) -> str | None:
        want = len(self.frame(sql))
        return None if len(got) == want else f"rows {len(got)} vs {want}"

    def check_values(self, sql: str, got, subset: bool = False) -> str | None:
        """Full compare. With ``subset`` the oracle covers only some of
        the result's columns and the rest are ignored."""
        want = self.frame(sql)
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        if sorted(got.columns) != sorted(want.columns) and not subset:
            return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        missing = sorted(set(want.columns) - set(got.columns))
        if missing:
            return f"columns missing {missing}"
        got = got[list(want.columns)]
        s, o = self.canon(got), self.canon(want)
        if s != o:
            diff = next((a, b) for a, b in zip(s, o) if a != b)
            return f"values differ, first: {diff}"
        return None
