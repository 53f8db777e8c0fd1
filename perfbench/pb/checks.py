"""Correctness gates. Each returns (ids of failed operations, problems);
an operation that threw is failed as well."""
import datetime
import glob
import hashlib
import math
import os
import re

import duckdb


def _thrown(ops):
    return {o["id"] for o in ops if not o["ok"]}


def slot_key(epoch):
    t = datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H-%M-%SZ")


def _published(out_dir):
    """{slot_key: rows} and {slot_key: {entry: (len, sha256)}} as read back
    from an episode's output layout."""
    rows, blobs = {}, {}
    con = duckdb.connect()
    if glob.glob(f"{out_dir}/slot_key=*/*.parquet"):
        rows = dict(con.sql(
            f"SELECT slot_key, count(*) FROM read_parquet('{out_dir}/*/*.parquet',"
            " hive_partitioning=true) GROUP BY 1").fetchall())
    if glob.glob(f"{out_dir}-blobs/slot_key=*/*.parquet"):
        for key, entry, content in con.sql(
                f"SELECT slot_key, entry, content FROM read_parquet("
                f"'{out_dir}-blobs/*/*.parquet', hive_partitioning=true)").fetchall():
            blobs.setdefault(key, {})[entry] = (
                len(content), hashlib.sha256(content).hexdigest())
    return rows, blobs


def check_slot_catchup(ops, episodes, start, counts, manifest):
    """Each slot's published rows equal its generated count and its two
    archive members arrive byte-identical; ticks walk the backlog in order;
    the tick after the last slot stalls; the cursor reads back the last
    processed slot."""
    failed, problems = _thrown(ops), []
    last_slot = start + (len(counts) - 1) * 900
    by_episode = {}
    for o in ops:
        by_episode.setdefault(o["episode"], []).append(o)
    for ep in episodes:
        ticks = by_episode.get(ep["id"], [])
        rows, blobs = _published(ep["out"])
        expect, processed = start, None
        for o in ticks:
            if not o["ok"]:
                continue
            bad = None
            if o["outcome"] == "stalled":
                if o["slot"] != last_slot + 900:
                    bad = f"stalled at {o['slot']} before the backlog ended"
            elif o["slot"] != expect:
                bad = f"processed slot {o['slot']}, expected {expect}"
            else:
                i = (o["slot"] - start) // 900
                key = slot_key(o["slot"])
                want = {e: (m["len"], m["sha256"])
                        for e, m in manifest[f"MSG4-{o['slot']}"].items()}
                if o["product"] != f"MSG4-{o['slot']}":
                    bad = f"product {o['product']} for slot {o['slot']}"
                elif o["rows"] != counts[i] or rows.get(key) != counts[i]:
                    bad = (f"slot {key}: {o['rows']} rows reported, "
                           f"{rows.get(key)} published, {counts[i]} generated")
                elif o["blobs"] != 2 or blobs.get(key) != want:
                    bad = f"slot {key}: archive members differ from the source"
                expect, processed = o["slot"] + 900, o["slot"]
            if bad:
                failed.add(o["id"])
                problems.append(bad)
        if ep["complete"] and processed != last_slot:
            problems.append(f"episode {ep['id']} stalled before its last slot")
            failed.update(o["id"] for o in ticks[-1:])
        if ep["cursor"] != processed:
            problems.append(f"episode {ep['id']}: cursor {ep['cursor']}, "
                            f"last processed {processed}")
            failed.update(o["id"] for o in ticks[-1:])
    return failed, problems


def check_dedup_ingest(ops, survivors, planted):
    """The path and bucketed loops keep the same documents, and every
    planted near-duplicate is dropped."""
    failed, problems = _thrown(ops), []
    by_call = {}
    for s in survivors:
        by_call.setdefault(s["call"], {})[s["backend"]] = set(s["ids"])
    op_of = {(o["call"], o["backend"]): o["id"] for o in ops}
    for call, kept in sorted(by_call.items()):
        ids = [op_of[(call, b)] for b in kept]
        if kept.get("path") != kept.get("bucketed"):
            failed.update(ids)
            problems.append(f"call {call}: path and bucketed survivors differ")
        for backend, ks in kept.items():
            leaked = ks & planted
            if leaked:
                failed.add(op_of[(call, backend)])
                problems.append(f"call {call} {backend}: {len(leaked)} planted "
                                "duplicates kept")
    return failed, problems


# --- oracle comparison, as the repo's tools/check.py compares -------------

def canon_type(t):
    s = t.upper()
    s = s.replace("TIMESTAMP WITH TIME ZONE", "TIMESTAMP")
    s = re.sub(r"TIMESTAMP_\w+", "TIMESTAMP", s)
    s = re.sub(r"\b(UBIGINT|UINTEGER|USMALLINT|UTINYINT"
               r"|BIGINT|INTEGER|SMALLINT|TINYINT)\b", "INT", s)
    s = re.sub(r"\b(DOUBLE|FLOAT|REAL)\b", "FLOAT", s)
    s = re.sub(r"DECIMAL\(\d+,\s*(\d+)\)", r"DECIMAL(\1)", s)
    return s


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()])


def compare_to_oracle(con, sql, result_dir):
    """None when the parquet result under `result_dir` equals the oracle's
    rows (schema families, column names, row count, values in order);
    otherwise the first difference."""
    src = f"'{result_dir}/*.parquet'"
    describe = lambda q: {r[0]: canon_type(r[1]) for r in con.sql(q).fetchall()}
    got_t, exp_t = describe(f"DESCRIBE SELECT * FROM {src}"), describe(f"DESCRIBE {sql}")
    bad = [c for c in sorted(set(got_t) & set(exp_t)) if got_t[c] != exp_t[c]]
    if bad:
        return f"type differs in {bad}"
    gcols, grows = _canon(con.sql(f"SELECT * FROM {src}"))
    ecols, erows = _canon(con.sql(sql))
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    if len(grows) != len(erows):
        return f"rows {len(grows)} != {len(erows)}"
    for i, (a, b) in enumerate(zip(grows, erows)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_analytics_mix(ops, fixture_dir, results_dir, oracle_sql, triggers):
    """Every query's result equals its DuckDB oracle; every stream replay
    ran its deterministic number of triggers."""
    failed, problems = _thrown(ops), []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    wrong = set()
    for name, sql in sorted(oracle_sql.items()):
        d = os.path.join(results_dir, name)
        try:
            diff = compare_to_oracle(con, sql, d) if os.path.isdir(d) else "no result"
        except Exception as e:  # an unreadable result is a wrong result
            diff = f"{type(e).__name__}: {e}"
        if diff:
            wrong.add(name)
            problems.append(f"{name}: {diff}")
    for o in ops:
        if o["query"] in wrong:
            failed.add(o["id"])
        elif o["ok"] and o["stream"] and o["triggers"] != triggers.get(o["query"]):
            failed.add(o["id"])
            problems.append(f"{o['query']}: {o['triggers']} triggers, "
                            f"expected {triggers.get(o['query'])}")
    return failed, problems
