"""Independent reference for every benchmark operation, in DuckDB.

`check(workload, input_dir, out_dir, ops)` recomputes each operation's
expected output from the generated inputs alone and compares it with what the
benchmark JVM committed. It returns the indices of the operations that failed
or were wrong. The dedup references are the engine's own DuckDB oracles
(`SparkEntry.oracleSql`: d01, d04, d74) applied to the benchmark corpus, with
d09's connected components taken by union-find over the d04 pairs.
"""
import csv
import glob
import json
import math
import os
import re
import sys
from decimal import Decimal

import duckdb
import pyarrow as pa

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
# one multiset fingerprint per relation: row count and a sum of row hashes
FINGERPRINT = ("SELECT count(*), CAST(sum(hash(event_id, epoch_us(ts), user_id, "
               "event_type, value, props)) AS VARCHAR) FROM {}")


def _fail(msg):
    print(f"perfbench check: {msg}", file=sys.stderr)


# ---------------------------------------------------------------- ingest

def _ingest_reference(con, path):
    with open(path) as f:
        lines = f.read().splitlines()
    con.register("lines", pa.table({"line": lines}))
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE ref AS
      WITH l AS (SELECT line, json_valid(line) AS ok FROM lines),
      p AS (SELECT ok,
          CASE WHEN ok THEN CAST(line->>'$.event_id' AS BIGINT) END AS event_id,
          CASE WHEN ok THEN CAST(line->>'$.ts' AS TIMESTAMP) END AS ts,
          CASE WHEN ok THEN CAST(line->>'$.user_id' AS BIGINT) END AS user_id,
          CASE WHEN ok THEN line->>'$.event_type' END AS event_type,
          CASE WHEN ok THEN CAST(line->>'$.value' AS DOUBLE) END AS value,
          CASE WHEN ok THEN line->>'$.props' END AS props
        FROM l)
      SELECT *, CASE
          WHEN NOT ok THEN 'malformed'
          WHEN event_id IS NULL THEN 'missing_required_field:event_id'
          WHEN user_id IS NULL THEN 'missing_required_field:user_id'
          WHEN value < 0 THEN 'negative_value'
          WHEN event_type NOT IN {EVENT_TYPES} THEN 'unknown_event_type'
        END AS err
      FROM p""")
    con.unregister("lines")
    valid = con.execute(FINGERPRINT.format("ref WHERE err IS NULL")).fetchone()
    errors = dict((r[0], (r[1], r[2])) for r in con.execute(
        "SELECT err, count(*), CAST(sum(hash(coalesce(CAST(event_id AS VARCHAR), ''))) "
        "AS VARCHAR) FROM ref WHERE err IS NOT NULL GROUP BY 1").fetchall())
    rows = {r[0]: [r[0], r[1], r[2]] for r in con.execute(
        "SELECT event_id, user_id, value FROM ref WHERE err IS NULL").fetchall()}
    return {"valid": valid, "errors": errors, "rows": rows}


def check_ingest(con, inp, out, ops):
    parts = sorted(os.listdir(os.path.join(inp, "events")))
    refs = {}

    def ref(op):
        p = parts[op % len(parts)]
        if p not in refs:
            refs[p] = _ingest_reference(con, os.path.join(inp, "events", p, "part-00000.json"))
        return refs[p]

    def parquet(kind, op):
        files = glob.glob(os.path.join(out, kind, f"op={op}", "**", "*.parquet"), recursive=True)
        return f"read_parquet({files!r}, union_by_name=true)" if files else None

    failed = []
    for idx, o in enumerate(ops):
        c = json.loads(o["check"])
        if not o["ok"] or "error" in c:
            failed.append(idx)
            continue
        op, r = c["op"], ref(c["op"])
        problems = []
        pub = parquet("published", op)
        if pub is None or con.execute(FINGERPRINT.format(pub)).fetchone() != r["valid"]:
            problems.append("published rows differ")
        err = parquet("errors", op)
        got = {} if err is None else dict((x[0], (x[1], x[2])) for x in con.execute(
            f"SELECT exception, count(*), CAST(sum(hash(coalesce(row_key, ''))) AS VARCHAR) "
            f"FROM {err} GROUP BY 1").fetchall())
        if got != r["errors"]:
            problems.append(f"error table differs: {got} vs {r['errors']}")
        if op > 0:
            disp = parquet("dispersed", op)
            if disp is None or con.execute(FINGERPRINT.format(disp)).fetchone() != ref(op - 1)["valid"]:
                problems.append("dispersed rows differ")
        want = [r["rows"][c["key"]]] if c["key"] in r["rows"] else []
        if [list(x) for x in c["lookup"]] != want:
            problems.append(f"lookup {c['lookup']} != {want}")
        if problems:
            _fail(f"ingest op {op}: " + "; ".join(problems))
            failed.append(idx)
    return failed


# ------------------------------------------------------------------- cdc

def check_cdc(con, inp, out, ops):
    with open(os.path.join(out, "check", "landed.txt")) as f:
        landed = int(f.read())
    changes = sorted(glob.glob(os.path.join(inp, "changes", "*.parquet")))
    files = [os.path.join(inp, "facts.parquet")] + changes[: landed - 1]
    con.execute("CREATE OR REPLACE TEMP TABLE ev AS " + " UNION ALL ".join(
        f"SELECT {pos} AS pos, event_id, user_id, v, vd, op FROM read_parquet('{p}')"
        for pos, p in enumerate(files)))
    state_at = """
      WITH cur AS (SELECT * FROM ev WHERE pos <= {pos}
        QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY pos DESC) = 1)
      SELECT user_id, count(*), CAST(sum(v) AS VARCHAR), min(vd), max(vd)
      FROM cur WHERE op <> 'D' {where} GROUP BY user_id"""

    def norm(rows):
        return sorted((int(r[0]), int(r[1]), Decimal(r[2]), float(r[3]), float(r[4]))
                      for r in rows)

    failed = []
    for idx, o in enumerate(ops):
        c = json.loads(o["check"])
        if not o["ok"] or "error" in c:
            failed.append(idx)
            continue
        want = norm(con.execute(state_at.format(
            pos=c["file"] + 1, where=f"AND user_id = {int(c['key'])}")).fetchall())
        got = norm([[c["key"]] + r for r in c["row"]])
        if got != want:
            _fail(f"cdc read after file {c['file']}: {got} != {want}")
            failed.append(idx)
    final = norm(con.execute(state_at.format(pos=len(files) - 1, where="")).fetchall())
    got = norm(con.execute(
        f"SELECT user_id, n, sum_v, min_vd, max_vd FROM "
        f"read_parquet('{os.path.join(out, 'check', 'state')}/*.parquet')").fetchall())
    if got != final:
        _fail(f"cdc final state differs from the reference ({len(got)} vs {len(final)} keys)")
        failed = list(range(len(ops)))
    return failed


# ----------------------------------------------------------------- dedup

def _tsv(path):
    with open(path, newline="") as f:
        rows = list(csv.reader(f, delimiter="\t", quoting=csv.QUOTE_NONE))
    return rows[0], rows[1:]


def _same(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(y, float):
            if not math.isclose(float(x), y, rel_tol=1e-12, abs_tol=1e-12):
                return False
        elif str(x) != str(y):
            return False
    return True


def check_dedup(con, inp, out, ops):
    d = os.path.join(out, "check")
    with open(os.path.join(d, "params.json")) as f:
        params = json.load(f)
    oracle = params["oracle"]
    # the d04 pair CTE caps band buckets at the size the engine derived
    # from this corpus; the oracle text carries the default cap
    capped = {k: re.sub(r"HAVING COUNT\(\*\) <= \d+", f"HAVING COUNT(*) <= {params['bucket_cap']}", v)
              for k, v in oracle.items()}
    corpus = os.path.join(inp, "corpus.parquet")
    toks = "list_filter(string_split(lower(text), ' '), x -> x != '')"
    con.execute(f"""CREATE OR REPLACE TEMP TABLE qual AS SELECT doc_id, text
        FROM read_parquet('{corpus}')
        WHERE len({toks}) >= 10
          AND CAST(len(list_distinct({toks})) AS DOUBLE) / CAST(len({toks}) AS DOUBLE) > 0.3""")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM qual")
    con.execute(f"CREATE OR REPLACE TEMP TABLE ex AS SELECT doc_id, text FROM qual "
                f"WHERE doc_id IN (SELECT keeper_id FROM ({capped['d01_exact_dedup']}))")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM ex")
    pairs = con.execute(
        f"SELECT id1, id2, jaccard FROM ({capped['d04_lsh_neardups']})").fetchall()
    # d09's closure (min reachable id labels each component) by union-find
    # over the same pairs; its recursive CTE would recompute the pair set
    parent = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    cc = [(x, root(x)) for x in parent]
    want = {
        "exact_dedup": (["doc_id"], con.execute("SELECT doc_id FROM ex").fetchall()),
        "near_dup_pairs": (["id1", "id2", "jaccard"], pairs),
        "cc": (["id", "cluster"], cc),
    }
    con.register("drops", pa.table({"id": [x for x, c in cc if x != c]}, schema=pa.schema([("id", pa.int64())])))
    con.execute("CREATE OR REPLACE TEMP TABLE keepers AS SELECT * FROM ex "
                "WHERE doc_id NOT IN (SELECT id FROM drops)")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM keepers")
    want["setsim_join"] = (["id_a", "id_b", "inter", "na", "nb"], con.execute(
        f"SELECT id_a, id_b, inter, na, nb FROM ({capped['d74_setsim_join']})").fetchall())

    wrong = set()
    for name, (cols, rows) in want.items():
        header, got = _tsv(os.path.join(d, f"{name}.tsv"))
        pick = [header.index(c) for c in cols]
        got = sorted(([r[i] for i in pick] for r in got), key=lambda r: [str(x) for x in r[:2]])
        rows = sorted((list(r) for r in rows), key=lambda r: [str(x) for x in r[:2]])
        if len(got) != len(rows) or not all(_same(g, w) for g, w in zip(got, rows)):
            _fail(f"dedup {name}: {len(got)} rows differ from the reference's {len(rows)}")
            wrong.add(name)
    failed = []
    for idx, o in enumerate(ops):
        c = json.loads(o["check"])
        if not o["ok"] or "error" in c or c["call"] in wrong:
            failed.append(idx)
    return failed


CHECKS = {"ingest": check_ingest, "cdc": check_cdc, "dedup": check_dedup}


def check(workload, inp, out, ops):
    con = duckdb.connect()
    try:
        return CHECKS[workload](con, inp, out, ops)
    finally:
        con.close()
