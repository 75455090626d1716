"""Derive a larger scale factor from the driver's largest fixture.

The driver generates parquet at sf0.001/0.01/0.1 only; the scaling
story needs at least one decade more. This tool builds an sf1-shaped
directory from sf0.1 by replicating every fact table ``FACTOR`` times
with per-copy key offsets (stride = the key domain size, so copies
never collide and referential integrity holds within each copy):

- TPC-H tables: pure key-offset replication; ``region``/``nation``
  stay single-copy (shared dimensions, exactly how TPC-H scales).
- ``events``: event_id/user_id offset — 10× the users over the same
  time span, so windowed-state cardinality scales with the data.
- ``documents``: doc_id offset + per-copy letter rotation of the text
  (``translate`` with a rotated alphabet). Word/char/punct statistics
  are preserved (it is a bijection on letters) but shingles across
  copies are disjoint, so near-dup families don't multiply 10× —
  replicated text would turn every LSH query into a quadratic
  duplicate blowup that says nothing about plan scaling.
- ``embeddings``: vec_id offset + per-copy cyclic rotation of the
  vector coordinates. A rotation is distribution-preserving, and
  rotated random vectors are uncorrelated with their originals, so
  cosine-threshold semantics keep the same density instead of every
  copy being an exact near-dup of copy 0.

DuckDB does the heavy lifting (no JVM needed); output goes to
``.scaling/sf1`` inside the repo (gitignored).

Usage: python tools/make_scaled_fixture.py [src_dir out_dir factor]
"""

from __future__ import annotations

import string
import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = Path(__file__).resolve().parents[1] / ".scaling" / "sf1"
FACTOR = 10

# (table, {column: stride}) — stride 0 keeps the column; key columns
# shift by copy_index * stride.
OFFSETS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": 15_000},
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {"l_orderkey": 150_000, "l_partkey": 20_000, "l_suppkey": 1_000},
    "part": {"p_partkey": 20_000},
    "supplier": {"s_suppkey": 1_000},
    "events": {"event_id": 100_000, "user_id": 1_500},
    "documents": {"doc_id": 5_000},
    "embeddings": {"vec_id": 2_000},
}
SINGLE_COPY = ("region", "nation")

LETTERS = string.ascii_lowercase


def _rotated(c: int) -> str:
    r = (c * 7) % 26 or (1 if c else 0)  # distinct non-identity rotation per copy
    return LETTERS[r:] + LETTERS[:r]


def scale_table(
    con: duckdb.DuckDBPyConnection, src_dir: str, table: str, out_dir: Path, factor: int
) -> None:
    src = f"{src_dir}/{table}.parquet"
    cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
    strides = OFFSETS.get(table, {})
    exprs = []
    for col in cols:
        if col in strides:
            exprs.append(f"{col} + c * {strides[col]} AS {col}")
        elif table == "documents" and col == "text":
            # per-copy letter bijection; copy 0 is the original text
            cases = " ".join(
                f"WHEN {c} THEN translate(text, '{LETTERS}', '{_rotated(c)}')"
                for c in range(1, factor)
            )
            exprs.append(f"CASE c {cases} ELSE text END AS text")
        elif table == "events" and col == "event_type":
            exprs.append(col)
            # Extra zipf-skewed key for skew-robustness benchmarks
            # (r5 verdict lead #4): log-uniform rank over [1, 1000] is
            # zipf(s≈1) — the hottest key carries ~10% of all rows,
            # rank k carries ∝1/k. Deterministic (hash of event_id +
            # copy), so every run and both engines see the same skew.
            exprs.append(
                "CAST(floor(pow(1000.0, ((hash(event_id + c * 100000) & 1023) + 0.5)"
                " / 1024.0)) AS BIGINT) AS skew_key"
            )
        elif table == "embeddings" and col == "embedding":
            # cyclic coordinate rotation by c positions (1-based slices,
            # inclusive both ends; [1:0] is empty for c = 0)
            exprs.append(
                "list_concat(embedding[c + 1:len(embedding)],"
                " embedding[1:c]) AS embedding"
            )
        else:
            exprs.append(col)
    out = out_dir / f"{table}.parquet"
    con.sql(
        f"COPY (SELECT {', '.join(exprs)} FROM '{src}', range({factor}) t(c)"
        f" ORDER BY c) TO '{out}' (FORMAT parquet)"
    )
    n = con.sql(f"SELECT count(*) FROM '{out}'").fetchall()[0][0]
    print(f"{table}: {n} rows -> {out}", file=sys.stderr)


def build(src_dir: str = SRC, out_dir: Path = OUT, factor: int = FACTOR) -> None:
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for table in SINGLE_COPY:
        con.sql(f"COPY (SELECT * FROM '{src_dir}/{table}.parquet') TO "
                f"'{out_dir / (table + '.parquet')}' (FORMAT parquet)")
        print(f"{table}: copied unchanged", file=sys.stderr)
    for table in OFFSETS:
        scale_table(con, src_dir, table, out_dir, factor)


if __name__ == "__main__":
    build(*sys.argv[1:3], *map(int, sys.argv[3:4]))
