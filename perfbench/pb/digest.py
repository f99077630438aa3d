"""Order-insensitive digests of query results, made with the repository's
oracle diff normalisation (tools/oracle_diff.py: `norm` and `canon`,
loaded from that file), so a digest match is the same verdict that tool
gives."""
import functools
import hashlib
import importlib.util
from pathlib import Path

ORACLE_DIFF = Path(__file__).resolve().parents[2] / "tools" / "oracle_diff.py"


@functools.cache
def oracle_diff():
    """The tools/oracle_diff.py module."""
    spec = importlib.util.spec_from_file_location("oracle_diff", ORACLE_DIFF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def norm(v):
    return oracle_diff().norm(v)


def digest(cols, rows):
    """sha256 of the canonical (columns, rows) pair."""
    c, r = oracle_diff().canon(cols, rows)
    return hashlib.sha256(repr((c, r)).encode("utf-8")).hexdigest()


def parquet_digest(path):
    """(row count, digest) of a Spark result written as parquet."""
    import pyarrow.parquet as pq
    tbl = pq.read_table(path)
    cols = tbl.column_names
    rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
    return len(rows), digest(cols, rows)
