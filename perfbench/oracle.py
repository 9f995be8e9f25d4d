"""Result checking against the DuckDB oracles.

Each closed-loop query's collected rows are compared exactly with its
``catalog.ORACLES`` twin run on DuckDB over the same parquet files. The
canonical form is the correctness gate's own: rows go through
``scripts/check_correctness.py``'s ``normalize`` in its default EXACT
mode, and only a digest of its output is kept. Expected digests are
computed from DuckDB output only and cached per checkout, keyed by the
oracle SQL and the data.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

from scripts.check_correctness import TABLES, normalize


def digest(rows, colnames) -> dict:
    """Order-insensitive digest of a result: row count, sorted column
    names and a SHA-256 over the gate's canonical rows."""
    lines = normalize(rows, colnames, round6=False)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "cols": sorted(colnames), "sha": h.hexdigest()}


def compare(got: dict, want: dict) -> str | None:
    """``None`` when the digests agree, else a one-line reason."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} vs oracle {want['cols']}"
    if got["rows"] != want["rows"]:
        return f"rowcount {got['rows']} vs oracle {want['rows']}"
    if got["sha"] != want["sha"]:
        return "value mismatch"
    return None


def duck_connect(data_dir: Path, tmp_dir: Path, threads: int):
    """A DuckDB connection with a view per gate table present in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        if (data_dir / f"{t}.parquet").is_file():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def data_key(data_dir: Path) -> str:
    """A hash over the data files' names and contents."""
    h = hashlib.sha256()
    for f in sorted(data_dir.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:24]


def expected(names, oracles: dict, data_dir: Path, cache_dir: Path, threads: int) -> dict:
    """DuckDB digest per query name, computed once per (oracle SQL, data)
    and cached as JSON under ``cache_dir``."""
    cache_dir.mkdir(parents=True, exist_ok=True)
    data = data_key(data_dir)
    out, todo = {}, []
    for name in names:
        key = hashlib.sha256(f"{data}\n{oracles[name]}".encode()).hexdigest()[:24]
        path = cache_dir / f"{name}-{key}.json"
        if path.exists():
            out[name] = json.loads(path.read_text())
        else:
            todo.append((name, path))
    if todo:
        con = duck_connect(data_dir, cache_dir, threads)
        try:
            for name, path in todo:
                # fetched through pandas, like the correctness gate, so
                # DuckDB's type coercions (HUGEINT sums → float64) match
                odf = con.execute(oracles[name]).df()
                d = digest(odf.to_dict("records"), list(odf.columns))
                tmp = path.with_suffix(".tmp")
                tmp.write_text(json.dumps(d))
                os.replace(tmp, path)
                out[name] = d
        finally:
            con.close()
    return out
