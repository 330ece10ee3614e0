"""Conversion checks whose expected values never come from the engine.

Row count and an order-independent digest of ``(fid, geom)``, computed by
DuckDB once over the generator's own record and once over the parquet the
engine wrote; the digest is a sum of per-row hashes, so it sees row
multiplicity (the 1:N star join) but not row order.
"""

from __future__ import annotations

import hashlib
from pathlib import Path


def duck(work: Path):
    import duckdb

    con = duckdb.connect()
    tmp = work / "duckdb-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    return con


_ROW_HASH = "sum(hash({fid} || '|' || coalesce({geom}, '<null>'))::HUGEINT{w})"


def expected_fid_geom(con, record) -> tuple[int, int]:
    """(rows, digest) the conversion must produce, from the generator."""
    import pyarrow as pa

    rec = pa.table({"fid": record.fid, "geom": pa.array(record.geom, pa.string()),
                    "w": record.weight})
    con.register("rec", rec)
    try:
        rows, digest = con.execute(
            "SELECT sum(w)::BIGINT, "
            + _ROW_HASH.format(fid="fid", geom="geom", w=" * w")
            + " FROM rec WHERE w > 0"
        ).fetchone()
    finally:
        con.unregister("rec")
    return int(rows), int(digest or 0)


def output_fid_geom(con, parquet: str | Path) -> tuple[int, int]:
    """(rows, digest) of a written conversion output."""
    rows, digest = con.execute(
        "SELECT count(*), "
        + _ROW_HASH.format(fid="CAST(fid AS VARCHAR)", geom="CAST(geom AS VARCHAR)", w="")
        + f" FROM read_parquet('{parquet}')"
    ).fetchone()
    return int(rows), int(digest or 0)


def file_sha(path: str | Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()
