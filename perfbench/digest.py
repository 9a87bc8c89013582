"""Order-insensitive digests of query results.

Both sides of the correctness check go through `digest_table`: the Spark
result (parquet written by the harness) and the DuckDB oracle result. Cells
are rendered so that representation differences that carry no meaning
compare equal: integer widths, DECIMAL vs DOUBLE, a DATE vs a midnight
TIMESTAMP, time-zone-aware vs naive UTC timestamps, and float noise beyond
ten significant digits.
"""
import datetime
import decimal
import hashlib
import math


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0:
            return "0"
        return format(f, ".10g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}" for k, x in sorted(v.items(), key=lambda kv: cell(kv[0]))) + "}"
    return str(v)


def digest_rows(columns, rows):
    """(row count, sha256) of rows given as tuples aligned with `columns`.

    Columns are put in name order and rows are sorted after rendering, so
    neither column nor row order matters.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rendered = sorted("\t".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\t".join(columns[i] for i in order).encode())
    for line in rendered:
        h.update(b"\n")
        h.update(line.encode())
    return len(rendered), h.hexdigest()


def digest_table(table):
    """Digest of a pyarrow Table."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return digest_rows(cols, list(zip(*data)) if cols else [])


def digest_parquet_dir(path):
    import pyarrow.parquet as pq
    return digest_table(pq.read_table(path))
