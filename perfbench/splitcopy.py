"""Row-identical copy of a shipped table directory, rewritten into smaller
Parquet row groups so that a Spark scan of one table runs as several
tasks (each shipped table is one row group, hence one task).

The copy is rebuilt only when the source files' signature changes, and
each table is checked against its source with DuckDB before the copy is
published.
"""

from __future__ import annotations

import json
import os
import shutil

#: bump when the way the copy is written changes.
_FORMAT = 1
_MARKER = "_SOURCE_SIG.json"


def _signature(src_dir: str, tables: tuple[str, ...], rows_per_group: int) -> list:
    sig: list = [_FORMAT, rows_per_group]
    for t in tables:
        st = os.stat(os.path.join(src_dir, f"{t}.parquet"))
        sig.append([t, st.st_size, st.st_mtime_ns])
    return sig


def _fingerprint(con, path: str) -> tuple[int, int]:
    """(row count, order-insensitive sum of row hashes) of a Parquet file."""
    n, h = con.execute(
        "SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) FROM read_parquet(?) t",
        [path],
    ).fetchone()
    return int(n), int(h)


def ensure_split_copy(
    src_dir: str, dst_root: str, tables: tuple[str, ...], rows_per_group: int
) -> dict:
    """Return ``{"dir", "regenerated", "row_groups"}`` for an up-to-date
    copy of ``src_dir`` under ``dst_root``; ``src_dir`` is only read."""
    import duckdb
    import pyarrow.parquet as pq

    name = f"{os.path.basename(os.path.normpath(src_dir))}-rg{rows_per_group}"
    dst = os.path.join(dst_root, name)
    sig = _signature(src_dir, tables, rows_per_group)
    try:
        with open(os.path.join(dst, _MARKER)) as fh:
            marker = json.load(fh)
        if marker["sig"] == sig:
            return {"dir": dst, "regenerated": False, "row_groups": marker["row_groups"]}
    except (OSError, ValueError, KeyError):
        pass

    tmp = f"{dst}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    row_groups = {}
    con = duckdb.connect()
    try:
        for t in tables:
            src, out = os.path.join(src_dir, f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet")
            pq.write_table(pq.read_table(src), out, row_group_size=rows_per_group)
            if _fingerprint(con, src) != _fingerprint(con, out):
                raise RuntimeError(f"split copy of {t} differs from its source")
            row_groups[t] = pq.ParquetFile(out).metadata.num_row_groups
        with open(os.path.join(tmp, _MARKER), "w") as fh:
            json.dump({"sig": sig, "row_groups": row_groups}, fh)
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(tmp, dst)
    finally:
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)
    return {"dir": dst, "regenerated": True, "row_groups": row_groups}
