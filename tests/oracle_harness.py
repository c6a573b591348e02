"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registered query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column-name set, and an
order-insensitive value multiset with floats rounded to 9 decimals
(FIXTURES.md "Oracle-comparison rules")."""

from __future__ import annotations

import math
import os
import tempfile
from dataclasses import dataclass, field

import duckdb

from overturemaps_duckdb_spark.queries import TABLES

ROUND_DP = 9


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, ROUND_DP)
    if isinstance(v, int):
        return v
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    try:  # decimal
        from decimal import Decimal

        if isinstance(v, Decimal):
            return round(float(v), ROUND_DP)
    except Exception:
        pass
    return str(v)


def _normalize_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, normalize cells, sort rows — the
    order-insensitive multiset the driver hashes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    reasons: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} duck={self.oracle_rows}"
        for r in self.reasons:
            msg += f"\n        {r}"
        return msg


def _oracle_memory_limit_mb() -> int:
    """A quarter of the host's RAM.  DuckDB's own default (80 %) leaves no
    room for the Spark JVM and Python workers that share the test process's
    host, so an oracle that outgrows it gets the whole run killed by the
    kernel instead of failing its own test."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return max(1024, ram_mb // 4)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    limit_mb = _oracle_memory_limit_mb()
    con.execute(f"SET memory_limit = '{limit_mb}MB'")
    # spill lands in the system temp dir, bounded, not in the working tree
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}/omds_oracle_spill'")
    con.execute(f"SET max_temp_directory_size = '{2 * limit_mb}MB'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def main(argv: list[str] | None = None) -> int:
    """CLI: run named queries (or all) against their oracles.

        python -m tests.oracle_harness -q d2_minhash_lsh_pairs pl4_within_filter
        python -m tests.oracle_harness --sf /root/testdata/sf0.001
    """
    import argparse
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser()
    ap.add_argument("-q", "--queries", nargs="*", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args(argv)

    from overturemaps_duckdb_spark import queries as q
    from overturemaps_duckdb_spark.session import get_spark

    q.load_all()
    names = args.queries or sorted(q.ORACLES)
    spark = get_spark("oracle-harness", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(args.sf)
    failed = 0
    for name in names:
        oracle = q.ORACLES.get(name)
        df = q.QUERIES[name](spark, args.sf)
        if oracle is None:
            print(f"[rows] {name}: {df.count()} rows (no oracle by design)")
            continue
        res = compare(name, df, con, oracle)
        print(res)
        failed += 0 if res.ok else 1
    spark.stop()
    return 1 if failed else 0


def _driver_canon_probe(cols: list[str], rows: list[tuple]) -> str | None:
    """Reproduce the ROUND DRIVER's canonicalization step: it loads the
    result into pandas and ``sort_values`` over every column (name-sorted),
    which raises ``TypeError: unhashable type: 'list'`` on any top-level
    array/map cell (CORRECTNESS_r11 emb1/bpe2 failure — the local
    tuple-normalizing canon reported MATCH for results the driver crashed
    on).  Returns the error string if the driver would crash, else None."""
    import pandas as pd

    try:
        pd.DataFrame(rows, columns=cols)[sorted(cols)].sort_values(
            by=sorted(cols)
        )
    except TypeError as exc:
        return f"{type(exc).__name__}: {exc}"
    return None


def compare(name: str, spark_df, con, oracle: str, max_mismatch_examples: int = 3) -> CompareResult:
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    cur = con.execute(oracle)
    d_cols = [c[0] for c in cur.description]
    d_rows = [tuple(r) for r in cur.fetchall()]

    res = CompareResult(name, True, len(s_rows), len(d_rows))
    for side, cols, rows in (("spark", s_cols, s_rows), ("duck", d_cols, d_rows)):
        err = _driver_canon_probe(cols, rows)
        if err:
            res.ok = False
            res.reasons.append(
                f"driver canon would crash on {side} result: {err} — "
                "serialize the array/map column (concat_ws / array_to_string)"
            )
            return res
    if sorted(s_cols) != sorted(d_cols):
        res.ok = False
        res.reasons.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return res
    if len(s_rows) != len(d_rows):
        res.ok = False
        res.reasons.append("row count mismatch")
    sn = _normalize_rows(s_cols, s_rows)
    dn = _normalize_rows(d_cols, d_rows)
    if sn != dn:
        res.ok = False
        shown = 0
        for a, b in zip(sn, dn):
            if a != b and shown < max_mismatch_examples:
                res.reasons.append(f"spark {a!r}\n        duck  {b!r}")
                shown += 1
        only_s = [r for r in sn if r not in set(dn)][:max_mismatch_examples]
        only_d = [r for r in dn if r not in set(sn)][:max_mismatch_examples]
        if only_s:
            res.reasons.append(f"only-in-spark e.g. {only_s[0]!r}")
        if only_d:
            res.reasons.append(f"only-in-duck  e.g. {only_d[0]!r}")
    return res


if __name__ == "__main__":
    raise SystemExit(main())
