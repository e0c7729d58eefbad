"""Oracle answers for the benchmark's SQL programs, computed by DuckDB.

Each program's oracle SQL (exported from graft.SparkEntry.oracleSql) runs
over the workload's parquet tables, and its answer is reduced to the
order-insensitive digest perfbench/src/perfbench/Check.scala computes
from Spark's rows, under the comparison rules of tools/check.py. Answers
are cached by the hash of (data stamp, SQL), so a changed oracle or data
set is recomputed and an unchanged one costs nothing.

    python3 perfbench/oracle.py <data_dir> <oracle_sql.json> <out.tsv> <cache_dir> name...
    python3 perfbench/oracle.py --diff <data_dir> <oracle_sql.json> name <spark_rows.txt>
"""
import calendar
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _num(d):
    """Exact value, plain notation, no trailing zeros (Java's
    stripTrailingZeros().toPlainString())."""
    if d == 0:
        return "n0;"
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "n" + s + ";"


def enc(v, t, out):
    """Append the canonical encoding of value `v` of arrow type `t`."""
    if v is None:
        out.append("N;")
    elif pa.types.is_map(t):
        items = sorted(("".join(enc_one(k, t.key_type)), "".join(enc_one(x, t.item_type)))
                       for k, x in v)
        out.append(f"m{len(items)}[" + "".join(k + x for k, x in items) + "]")
    elif pa.types.is_struct(t):
        fields = sorted((t.field(i).name, t.field(i).type) for i in range(t.num_fields))
        out.append(f"r{len(fields)}[")
        for name, ft in fields:
            enc(name, pa.string(), out)
            enc(v[name], ft, out)
        out.append("]")
    elif pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        out.append(f"l{len(v)}[")
        for x in v:
            enc(x, t.value_type, out)
        out.append("]")
    elif isinstance(v, bool):
        out.append("b1;" if v else "b0;")
    elif isinstance(v, int):
        out.append(f"n{v};")
    elif isinstance(v, float):
        if math.isnan(v):
            out.append("nNaN;")
        elif math.isinf(v):
            out.append("nInf;" if v > 0 else "n-Inf;")
        else:
            out.append(_num(decimal.Decimal(v)))
    elif isinstance(v, decimal.Decimal):
        out.append(_num(v))
    elif isinstance(v, str):
        out.append(f"s{len(v.encode())}:{v}")
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        out.append(f"t{calendar.timegm(v.timetuple()) * 1000000 + v.microsecond};")
    elif isinstance(v, datetime.date):
        out.append(f"d{v.isoformat()};")
    elif isinstance(v, bytes):
        out.append("x" + v.hex() + ";")
    else:
        enc(str(v), pa.string(), out)


def enc_one(v, t):
    out = []
    enc(v, t, out)
    return out


def sha(s):
    return hashlib.sha256(s.encode()).hexdigest()


def digest(table):
    """(sorted column names, row count, digest) of an arrow table."""
    hashes = sorted(sha(r) for r in encoded_rows(table))
    return sorted(table.column_names), len(hashes), sha("\n".join(hashes))


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def encoded_rows(table):
    cols = sorted(table.column_names)
    types = [table.schema.field(c).type for c in cols]
    rows = []
    for row in zip(*[table.column(c).to_pylist() for c in cols]):
        out = []
        for v, t in zip(row, types):
            enc(v, t, out)
        rows.append("".join(out))
    return rows


def diff(data_dir, sql_file, name, spark_rows):
    """Print where Spark's rows (as the benchmark dumped them) and the
    oracle's differ."""
    want = sorted(encoded_rows(connect(data_dir).execute(json.load(open(sql_file))[name])
                               .fetch_arrow_table()))
    got = open(spark_rows).read().split("\n")
    print(f"oracle {len(want)} rows, spark {len(got)} rows")
    for w, g in zip(want, got):
        if w != g:
            print(f"oracle: {w}\nspark:  {g}")
            break


def main():
    if sys.argv[1] == "--diff":
        diff(*sys.argv[2:6])
        return
    data_dir, sql_file, out_file, cache_dir = sys.argv[1:5]
    names = sys.argv[5:]
    oracles = json.load(open(sql_file))
    stamp = open(os.path.join(data_dir, "STAMP")).read()
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    lines = []
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            sys.exit(f"{name}: no oracle SQL")
        key = hashlib.sha256((stamp + "\0" + sql).encode()).hexdigest()[:32]
        cached = os.path.join(cache_dir, key)
        if not os.path.exists(cached):
            if con is None:
                con = connect(data_dir)
            cols, n, h = digest(con.execute(sql).fetch_arrow_table())
            with open(cached + ".tmp", "w") as f:
                f.write(f"{n}\t{h}\t{','.join(cols)}")
            os.replace(cached + ".tmp", cached)
        lines.append(f"{name}\t{open(cached).read()}")
    with open(out_file, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
