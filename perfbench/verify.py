"""Correctness gate: each query's collected result against its DuckDB
oracle, with oracle results memoized on disk.

The comparison is the repository's own (``tools/check_oracle.py``
``compare``: row count, column names, dtype families, then
order-insensitive values); a result hash equal to the oracle's is the
fast path. A memo entry is keyed by the oracle SQL text and the digests
of the input files, so editing an oracle or regenerating the inputs
recomputes it.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import os
import pickle

from stats import result_hash


def load_check_oracle(root: str):
    """Import ``tools/check_oracle.py`` from the checkout by path."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


class OracleChecker:
    """DuckDB over the generated parquet tables, plus the memo."""

    def __init__(self, root: str, data_dir: str, tables: list[str], memo_dir: str, threads: int):
        import duckdb

        self._co = load_check_oracle(root)
        self._memo_dir = memo_dir
        os.makedirs(memo_dir, exist_ok=True)
        self._con = duckdb.connect()
        self._con.execute(f"SET threads = {threads}")
        digests = []
        for tb in tables:
            path = os.path.join(data_dir, f"{tb}.parquet")
            self._con.execute(f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{path}')")
            digests.append(f"{tb}:{file_digest(path)}")
        self._inputs = "\n".join(digests)
        self.memo_hits = 0

    def close(self) -> None:
        self._con.close()

    def oracle(self, sql: str):
        key = hashlib.sha256((sql + "\n" + self._inputs).encode()).hexdigest()
        path = os.path.join(self._memo_dir, f"{key}.pkl")
        if os.path.exists(path):
            self.memo_hits += 1
            with open(path, "rb") as f:
                return pickle.load(f)
        df = self._con.execute(sql).fetchdf()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        os.replace(tmp, path)
        return df

    def check(self, got, sql: str) -> list[str]:
        """Problems with ``got`` (a pandas result); empty means correct.
        An empty result is a problem even when the oracle agrees."""
        want = self.oracle(sql)
        if len(got) == 0:
            return ["empty result"]
        if result_hash(got) == result_hash(want):
            return []
        # compare() prints dtype warnings that the run does not need
        with contextlib.redirect_stderr(io.StringIO()):
            return self._co.compare(got, want)
