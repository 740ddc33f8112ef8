"""Request generators for the benchmark's workloads.

Every parameter is drawn from a small fixed domain, so the full set of
distinct requests (`request_domain()`) is finite and its expected results
can be recorded once in `expected/mcp.json`. A seed picks an order and
parameters from that domain; the server only ever sees generated requests.
"""
import json
import random

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DATES = ["1995-03-15", "1995-09-01", "1996-01-10", "1996-06-30", "1997-02-01",
         "1997-08-15", "1998-01-01", "1998-07-01", "1999-03-01", "1999-11-15",
         "2000-05-01", "2000-12-01"]
QUARTERS = [("1995-10-01", "1996-01-01"), ("1996-04-01", "1996-07-01"),
            ("1997-01-01", "1997-04-01"), ("1998-07-01", "1998-10-01")]
ORDER_KEYS = [(i * 7919 + 11) % 150000 for i in range(20)]
CUST_KEYS = [(i * 733 + 5) % 15000 for i in range(20)]
PART_KEYS = [(i * 991 + 3) % 20000 for i in range(20)]
WIDE_ROWS = [1000, 2500, 5000, 12000, 20000]
WIDE_START = [0, 60000]
TABLE_FILTERS = ["", "region", "nation,region", "orders,lineitem", "customer",
                 "documents,embeddings"]
SEARCH_TERMS = ["key", "name", "price", "date", "doc", "*", "ship", "nation"]
SOURCE_SETS = [[], ["src1", "src3"], ["src0", "src5", "src9"], ["src12"]]

# ---------------------------------------------------------------- requests
# A request is a dict {"method", "params"} (or {"raw": text} for a line that
# is not JSON). `key()` is its identity for expected results and repeats.


def call(tool, **args):
    return {"method": "tools/call", "params": {"name": tool, "arguments": args}}


def sql(text):
    return call("execute_sql", sql=text)


def key(req):
    return req["raw"] if "raw" in req else json.dumps(req, sort_keys=True)


def wire(req, rid):
    """The request's line on the wire, with JSON-RPC id `rid`."""
    if "raw" in req:
        return req["raw"]
    return json.dumps({"jsonrpc": "2.0", "id": rid, **req})


def q_point_order(k):
    return sql("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               "CAST(o_orderdate AS DATE) AS o_orderdate FROM orders "
               f"WHERE o_orderkey = {k}")


def q_point_customer(k):
    return sql("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
               f"FROM customer WHERE c_custkey = {k}")


def q_point_part(k):
    return sql("SELECT p_partkey, p_name, p_brand, p_size, p_retailprice "
               f"FROM part WHERE p_partkey = {k}")


def q1(date):
    return sql("SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
               "SUM(l_extendedprice) AS sum_base_price, "
               "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
               "AVG(l_discount) AS avg_disc, COUNT(*) AS count_order FROM lineitem "
               f"WHERE CAST(l_shipdate AS DATE) <= DATE '{date}' "
               "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")


def q3(seg, date):
    return sql("SELECT o.o_orderkey, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue, "
               "CAST(o.o_orderdate AS DATE) AS o_orderdate "
               "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
               "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
               f"WHERE c.c_mktsegment = '{seg}' AND CAST(o.o_orderdate AS DATE) < DATE '{date}' "
               f"AND CAST(l.l_shipdate AS DATE) > DATE '{date}' "
               "GROUP BY o.o_orderkey, o.o_orderdate ORDER BY revenue DESC, o.o_orderkey LIMIT 10")


def q5(region, year):
    return sql("SELECT n.n_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
               "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
               "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
               "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
               "JOIN nation n ON s.s_nationkey = n.n_nationkey "
               "JOIN region r ON n.n_regionkey = r.r_regionkey "
               f"WHERE c.c_nationkey = s.s_nationkey AND r.r_name = '{region}' "
               f"AND YEAR(o.o_orderdate) = {year} "
               "GROUP BY n.n_name ORDER BY revenue DESC, n.n_name")


def q10(lo, hi):
    return sql("SELECT c.c_custkey, c.c_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue, "
               "c.c_acctbal, n.n_name FROM customer c "
               "JOIN orders o ON c.c_custkey = o.o_custkey "
               "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
               "JOIN nation n ON c.c_nationkey = n.n_nationkey "
               f"WHERE CAST(o.o_orderdate AS DATE) >= DATE '{lo}' "
               f"AND CAST(o.o_orderdate AS DATE) < DATE '{hi}' AND l.l_returnflag = 'R' "
               "GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name "
               "ORDER BY revenue DESC, c.c_custkey LIMIT 20")


def wide_orders(start, n):
    return sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
               f"WHERE o_orderkey >= {start} ORDER BY o_orderkey LIMIT {n}")


def wide_lineitem(start, n):
    return sql("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount "
               f"FROM lineitem WHERE l_orderkey >= {start} "
               f"ORDER BY l_orderkey, l_linenumber LIMIT {n}")


REFUSED = [
    sql("DROP TABLE orders"),
    sql("CREATE TABLE scratch_copy AS SELECT * FROM orders"),
    sql("INSERT INTO orders SELECT * FROM orders"),
    sql("SELECT * FROM parquet.`data/orders.parquet`"),
    call("drop_everything"),
    {"raw": '{"jsonrpc": "2.0", "id": 0, "method": "tools/call", "params": {"name": "list_tables"'},
]

TOOLS_LIST = {"method": "tools/list", "params": {}}

# Each draw returns one request of its class from the fixed domain.
CATALOG = [
    lambda r: TOOLS_LIST,
    lambda r: call("list_tables", table_names=r.choice(TABLE_FILTERS)),
    lambda r: call("search_catalog", query=r.choice(SEARCH_TERMS), page_size=r.choice([10, 50])),
]
LOOKUPS = [
    lambda r: call("top_customers", segment=r.choice(SEGMENTS)),
    lambda r: call("orders_after", min_date=r.choice(DATES)),
    lambda r: call("sample_corpus", pct=r.choice([1, 2, 5, 10, 20, 50])),
    lambda r: call("privacy_scan", k=r.choice([2, 3, 5, 8, 10, 20])),
    lambda r: call("source_mix", sources=r.choice(SOURCE_SETS), min_chars=r.choice([0, 200, 500])),
    lambda r: q_point_order(r.choice(ORDER_KEYS)),
    lambda r: q_point_customer(r.choice(CUST_KEYS)),
    lambda r: q_point_part(r.choice(PART_KEYS)),
]
AGGREGATES = [
    lambda r: q1(r.choice(DATES)),
    lambda r: q3(r.choice(SEGMENTS), r.choice(DATES[:8])),
    lambda r: q5(r.choice(REGIONS), r.choice([1995, 1996, 1997])),
    lambda r: q10(*r.choice(QUARTERS)),
]
WIDE = [
    lambda r: wide_orders(r.choice(WIDE_START), r.choice(WIDE_ROWS[:3])),
    lambda r: wide_lineitem(r.choice(WIDE_START), r.choice(WIDE_ROWS[3:])),
]


def interactive_block(r):
    """One block of 20 calls with a fixed class mix, in seeded order:
    3 catalog, 9 lookups and typed tools, the 4 aggregates/joins, 2 wide
    results (10%: one under the row cap, one over it) and 2 requests that
    must be refused (10%). Every block holds every aggregate and both wide
    sizes, so a block's cost does not depend on the seed."""
    block = ([("catalog", f(r)) for f in CATALOG] +
             [("lookup", f(r)) for f in LOOKUPS] +
             [("lookup", r.choice(LOOKUPS)(r))] +
             [("aggregate", f(r)) for f in AGGREGATES] +
             [("wide", f(r)) for f in WIDE] +
             [("refused", x) for x in r.sample(REFUSED, 2)])
    r.shuffle(block)
    return block


def interactive_stream(seed):
    """Endless closed-loop request stream, one block at a time."""
    r = random.Random(seed)
    while True:
        yield interactive_block(r)


def warmup_block(seed):
    """Untimed warm-up, one call of each kind on the timed path, with
    parameters from a stream the timed part never uses."""
    r = random.Random(10_000_019 + seed)
    return [CATALOG[1](r), LOOKUPS[0](r), LOOKUPS[5](r), AGGREGATES[0](r), AGGREGATES[1](r),
            WIDE[0](r), REFUSED[0]]


def request_domain():
    """Every distinct request any seed can generate."""
    out = [TOOLS_LIST]
    out += [call("list_tables", table_names=t) for t in TABLE_FILTERS]
    out += [call("search_catalog", query=q, page_size=p) for q in SEARCH_TERMS for p in (10, 50)]
    out += [call("top_customers", segment=s) for s in SEGMENTS]
    out += [call("orders_after", min_date=d) for d in DATES]
    out += [call("sample_corpus", pct=p) for p in (1, 2, 5, 10, 20, 50)]
    out += [call("privacy_scan", k=k) for k in (2, 3, 5, 8, 10, 20)]
    out += [call("source_mix", sources=s, min_chars=m) for s in SOURCE_SETS for m in (0, 200, 500)]
    out += [q_point_order(k) for k in ORDER_KEYS]
    out += [q_point_customer(k) for k in CUST_KEYS]
    out += [q_point_part(k) for k in PART_KEYS]
    out += [q1(d) for d in DATES]
    out += [q3(s, d) for s in SEGMENTS for d in DATES[:8]]
    out += [q5(g, y) for g in REGIONS for y in (1995, 1996, 1997)]
    out += [q10(lo, hi) for lo, hi in QUARTERS]
    out += [wide_orders(s, n) for s in WIDE_START for n in WIDE_ROWS[:3]]
    out += [wide_lineitem(s, n) for s in WIDE_START for n in WIDE_ROWS[3:]]
    out += REFUSED
    return out


# ---------------------------------------------------------------- catalog
# `catalog_tail`'s frozen entry list. The heavy class is q340 (>= 3 s at
# sf0.1, an open ROADMAP item whose time is mostly eager pipeline
# construction); the rest sample the streaming drains and the light SQL
# entries, enough of them that the median entry is a light one. The rest of
# the >= 3 s tail does not fit one run's time: every entry runs at least
# twice (warm-up and timed) and q321 alone would add 14 s.
HEAVY_ENTRIES = ["q340_pipeline_funnel"]
CATALOG_ENTRIES = HEAVY_ENTRIES + [
    "q253_stream_dedup_drain", "q21_tpch_q1", "q12_predicates", "q100_tpch_q10",
    "q103_tpch_q19", "q104_tpch_q22", "q86_group_by_all", "q29_lag", "q47_window_tumbling"]


# The timed pass runs the whole list once, then the entries other than the
# heavy class twice more: one run of a light entry varies by 20-40%, and the
# median of ten single runs moved by a fifth between seeds. The warm-up runs
# those entries twice too: after one run a light entry still sped up by a
# third over its next two runs.
LIGHT_ROUNDS = 3


def catalog_warmup():
    """The untimed warm-up's entries, in name order: every entry, then the
    light ones again."""
    return sorted(CATALOG_ENTRIES) + sorted(set(CATALOG_ENTRIES) - set(HEAVY_ENTRIES))


def catalog_order(seed):
    """The timed pass's entries, in seeded order within each round."""
    r = random.Random(seed)
    out = []
    for i in range(LIGHT_ROUNDS):
        names = [n for n in CATALOG_ENTRIES if i == 0 or n not in HEAVY_ENTRIES]
        r.shuffle(names)
        out += names
    return out
