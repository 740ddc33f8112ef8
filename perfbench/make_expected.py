#!/usr/bin/env python3
"""Records the expected results every benchmark run is checked against.

    python3 perfbench/make_expected.py

Sends every request any seed can generate (`workloads.request_domain()`)
through one server, twice, and requires both passes to agree. Every
accepted `execute_sql` statement must also match DuckDB over the same
parquet files. Then runs the catalog runner twice over the frozen entry
list, and requires both runs to agree. Writes
perfbench/expected/{mcp,catalog}.json. Run it only on a commit whose
outputs are known to be right.
"""
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import proc  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from proc import WORK, log  # noqa: E402


def mcp_pass(domain):
    s = run.Session("expected-server")
    try:
        s.roundtrip({"method": "initialize", "params": {"protocolVersion": "2024-11-05"}}, 120)
        out = {}
        for req in domain:
            _, _, ms, line = s.roundtrip(req, 300)
            out[workloads.key(req)] = check.classify(json.loads(line))
            log("%7.0f ms  %s" % (ms, workloads.key(req)[:110]))
        return out
    finally:
        s.p.close()


def catalog_pass():
    p = run.runner("expected-runner", workloads.CATALOG_ENTRIES)
    out = {}
    try:
        p.recv(120)  # setup
        p.recv(600)  # warm-up done
        for name in workloads.CATALOG_ENTRIES:
            ev = json.loads(p.recv(600)[2])
            if "error" in ev:
                raise SystemExit("%s failed: %s" % (name, ev["error"]))
            out[name] = {"rows": ev["rows"], "digest": ev["digest"]}
    finally:
        p.close()
    return out


def mcp_expected():
    """The whole request domain's replies, identical over two passes, with
    every accepted execute_sql statement agreeing with DuckDB."""
    domain = workloads.request_domain()
    first, second = mcp_pass(domain), mcp_pass(domain)
    unstable = [k for k in first if first[k] != second[k]]
    if unstable:
        raise SystemExit("replies differ between passes: %s" % unstable)
    stmts = {r["params"]["arguments"]["sql"]: workloads.key(r) for r in domain
             if r.get("params", {}).get("name") == "execute_sql"}
    duck = check.duckdb_digests(run.DATA, [s for s, k in stmts.items() if first[k]["kind"] == "rows"])
    bad = [s for s, (rows, dig) in duck.items()
           if (first[stmts[s]]["rows"], first[stmts[s]]["digest"]) != (rows, dig)]
    if bad:
        raise SystemExit("DuckDB disagrees on:\n" + "\n".join(bad))
    log("%d statements agree with DuckDB" % len(duck))
    return first


def main():
    if not proc.build():
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    mcp = mcp_expected()
    cat1, cat2 = catalog_pass(), catalog_pass()
    unstable = [name for name in cat1 if cat1[name] != cat2[name]]
    if unstable:
        raise SystemExit("catalog results differ between runs: %s" % unstable)
    os.makedirs(os.path.dirname(check.EXPECTED_MCP), exist_ok=True)
    with open(check.EXPECTED_MCP, "w") as f:
        json.dump(mcp, f, indent=1, sort_keys=True)
    with open(check.EXPECTED_CATALOG, "w") as f:
        json.dump(cat1, f, indent=1, sort_keys=True)
    shutil.rmtree(WORK, ignore_errors=True)
    log("wrote %d MCP and %d catalog expectations" % (len(mcp), len(cat1)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
