"""Output checks, run outside the timed region.

Batch queries are compared against their DuckDB oracle with the rules of
``tests/oracle_harness.py`` (same row count, same column names, and equal
values after both sides are sorted: floats must match by ``repr``, so
``-0.0`` against ``0.0`` fails). The harness module is loaded from its
file so the benchmark and the test suite apply one set of rules.

Some oracles take tens of seconds on DuckDB at sf0.1, so each oracle's
canonical answer is computed once per checkout and kept under the work
directory, keyed by the oracle text and the generated data's version.
A result identical to one already accepted in the same run is accepted
without a second comparison.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import pickle

import pandas as pd


def _key(*parts: str) -> str:
    return hashlib.sha1("\0".join(parts).encode()).hexdigest()[:16]


def _load_harness(root: str):
    path = os.path.join(root, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _store(path: str, write) -> None:
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        write(fh)
    os.replace(tmp, path)


class OracleChecker:
    def __init__(self, root: str, sf_dir: str, cache_dir: str, data_version: str,
                 oracles: dict[str, str]) -> None:
        self._h = _load_harness(root)
        self._sf_dir = sf_dir
        self._cache_dir = cache_dir
        self._version = data_version
        self._oracles = oracles
        self._expected: dict[str, pd.DataFrame] = {}
        self._passed: dict[str, set[str]] = {}
        os.makedirs(cache_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(
            self._cache_dir, f"{name}-{_key(self._version, self._oracles[name])}.pkl"
        )

    def build(self, names) -> None:
        """Compute and store the oracle answer of every named query that
        has none stored yet."""
        todo = [n for n in sorted(set(names)) if not os.path.exists(self._path(n))]
        if not todo:
            return
        con = self._h.duckdb_con(self._sf_dir)
        try:
            for name in todo:
                frame = self._h._canon(con.execute(self._oracles[name]).fetchdf())
                _store(self._path(name), lambda fh: pickle.dump(frame, fh))
        finally:
            con.close()

    def load(self, names) -> None:
        self.build(names)
        for name in set(names):
            with open(self._path(name), "rb") as fh:
                self._expected[name] = pickle.load(fh)

    def check(self, name: str, rows: list, columns: list[str]) -> str | None:
        """None when ``rows`` match the oracle, else a one-line reason."""
        digest = hashlib.sha1(
            "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
        ).hexdigest()
        passed = self._passed.setdefault(name, set())
        if digest in passed:
            return None
        got = pd.DataFrame(
            [r.asDict(recursive=True) for r in rows], columns=columns
        )
        want = self._expected[name]
        if len(got) != len(want):
            return f"{len(got)} rows, oracle has {len(want)}"
        if sorted(got.columns) != sorted(map(str, want.columns)):
            return f"columns {sorted(got.columns)} != {sorted(map(str, want.columns))}"
        got = self._h._canon(got)
        for col in got.columns:
            for x, y in zip(got[col], want[col]):
                x = x.item() if hasattr(x, "item") else x
                y = y.item() if hasattr(y, "item") else y
                if not self._h._values_equal(x, y):
                    return f"{col}: {x!r} != oracle {y!r}"
        passed.add(digest)
        return None


def screen_pairs(cache_dir: str, data_version: str, documents_parquet: str,
                 max_doc_id: int, oracle_sql: str) -> set:
    """The batch screen's (doc_id, matched_doc_id, est_jaccard, band,
    bucket) pairs over documents with ``doc_id < max_doc_id``, from its
    DuckDB oracle: the set the live stream must emit. Stored like the
    batch oracle answers."""
    path = os.path.join(
        cache_dir,
        f"screen-{max_doc_id}-{_key(data_version, oracle_sql)}.json",
    )
    if not os.path.exists(path):
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{documents_parquet}') WHERE doc_id < {int(max_doc_id)}"
            )
            rows = con.execute(
                "SELECT doc_id, matched_doc_id, est_jaccard, band, bucket "
                f"FROM ({oracle_sql})"
            ).fetchall()
        finally:
            con.close()
        os.makedirs(cache_dir, exist_ok=True)
        _store(path, lambda fh: fh.write(json.dumps(rows).encode()))
    with open(path) as fh:
        return {tuple(r) for r in json.load(fh)}
