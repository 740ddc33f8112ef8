"""Correctness checks: response classification, order-insensitive row
digests, the expected-results file and the DuckDB cross-check."""
import datetime
import decimal
import hashlib
import json
import math
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_MCP = os.path.join(HERE, "expected", "mcp.json")
EXPECTED_CATALOG = os.path.join(HERE, "expected", "catalog.json")
MAX_ROWS = 10000  # the server's reply cap; wider results are truncated to it


def round6(x):
    """6 significant digits, so summation-order noise does not change a
    digest; integral values become ints so DOUBLE 3.0 == BIGINT 3. More
    digits would put exact sums of 2-decimal products (10 significant
    digits at sf0.1) on a rounding boundary whenever their last digit is 5,
    where two engines' last bits then round apart."""
    if isinstance(x, float):
        if x == 0.0 or math.isnan(x) or math.isinf(x):
            return 0.0 if x == 0.0 else repr(x)
        x = float("%.5e" % x)
        return int(x) if x.is_integer() and abs(x) < 2 ** 53 else x
    return x


def canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        return round6(float(v))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def digest_rows(rows):
    """Row count and order-insensitive digest (sum of per-row hashes mod
    2^64) of an iterable of row dicts. Null fields are dropped, as the
    server's JSON rows omit them."""
    n, total = 0, 0
    for row in rows:
        text = json.dumps(canon(row), sort_keys=True, separators=(",", ":"))
        total = (total + int.from_bytes(hashlib.sha1(text.encode()).digest()[:8], "little")) % (1 << 64)
        n += 1
    return n, "%016x" % total


def classify(resp):
    """Reduce a JSON-RPC response to what the expected file records."""
    if "error" in resp:
        return {"kind": "rpc_error", "code": resp["error"].get("code")}
    res = resp.get("result", {})
    if "tools" in res:
        return {"kind": "tools", "names": [t["name"] for t in res["tools"]]}
    content = res.get("content", [])
    if res.get("isError"):
        text = content[0]["text"] if content else ""
        m = re.match(r"(statement class not permitted: \w+|file-source relation|[\w ]+)", text)
        return {"kind": "is_error", "reason": m.group(1) if m else text[:40]}
    rows, dig = digest_rows(json.loads(c["text"]) for c in content)
    return {"kind": "rows", "rows": rows, "digest": dig}


def mismatch(got, want):
    """None if `got` matches the expected record `want`, else a reason."""
    if want is None:
        return "no expected result for this request"
    if got != want:
        return "expected %s, got %s" % (json.dumps(want)[:200], json.dumps(got)[:200])
    return None


def load(path):
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------------ DuckDB

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def duckdb_digests(data_dir, statements):
    """{sql: (rows, digest)} for each statement, run on DuckDB over the
    same parquet files and capped at the server's row limit."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for s in statements:
        cur = con.execute(s)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchmany(MAX_ROWS)
        out[s] = digest_rows(dict(zip(cols, r)) for r in rows)
    con.close()
    return out
