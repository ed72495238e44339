"""Seeded input generator for the benchmark workloads.

Every file is derived from the sf0.1 test tables plus the seed: the same seed
gives byte-identical inputs. `generate(workload, sf_dir, out_dir, seed)` writes
one workload's inputs under `out_dir` and returns its input properties, which
the runner records next to the metrics.
"""
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ingest: date partitions of JSON-lines events; the loop cycles through them,
# each operation publishing to its own output directory
INGEST_PARTITIONS = 8
INGEST_ROWS = 6000
# disjoint defect shares, one defect per bad line at most
MALFORMED_SHARE = 0.01
DEFECT_SHARES = {"missing_user": 0.02, "negative_value": 0.02, "unknown_type": 0.02}

# cdc: a fact table against many tiny changelog files, each touching a few
# skewed keys (batch << state is what makes per-batch fixed cost dominate)
CDC_FACTS = 5000
CDC_KEYS = 1500
CDC_FILES = 64
CDC_KEYS_PER_FILE = 3
CDC_INSERTS, CDC_UPDATES, CDC_DELETES = 4, 3, 2  # per touched key

# dedup: ScaleBench's recipe scaled down (cold near-dup replicas with a
# trailing revision token, a few boilerplate docs copied verbatim)
DEDUP_BASE = 300
DEDUP_COLD_REPS = 4
DEDUP_HOT = 6
DEDUP_HOT_REPS = 100


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _sample_events(sf_dir, rng, n):
    """`n` distinct events of the sf0.1 table, drawn by `rng`."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                      columns=["event_id", "ts", "user_id", "event_type",
                               "value", "props"])
    return t.take(rng.choice(t.num_rows, size=n, replace=False)).to_pydict()


def _dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def gen_ingest(sf_dir, out, seed):
    rng = _rng(seed, 1)
    n = INGEST_PARTITIONS * INGEST_ROWS
    ev = _sample_events(sf_dir, rng, n)
    kinds = rng.random(n)
    cuts = np.cumsum([MALFORMED_SHARE] + list(DEFECT_SHARES.values()))
    counts = {"malformed": 0, **{k: 0 for k in DEFECT_SHARES}}
    lookups = []
    for p in range(INGEST_PARTITIONS):
        day = f"2024-01-{p + 1:02d}"
        d = os.path.join(out, "events", f"dt={day}")
        os.makedirs(d)
        lines = []
        lookup_key = None
        for j in range(INGEST_ROWS):
            g = i = p * INGEST_ROWS + j
            ts = ev["ts"][i]
            rec = {
                "event_id": p * 1_000_000 + int(ev["event_id"][i]),
                "ts": f"{day} {ts.hour:02d}:{ts.minute:02d}:{ts.second:02d}",
                "user_id": int(ev["user_id"][i]),
                "event_type": ev["event_type"][i],
                "value": float(ev["value"][i]),
                "props": ev["props"][i],
            }
            k = kinds[g]
            if k < cuts[0]:
                pass  # malformed: cut below, after serialization
            elif k < cuts[1]:
                del rec["user_id"]
                counts["missing_user"] += 1
            elif k < cuts[2]:
                rec["value"] = -abs(rec["value"]) - 1.0
                counts["negative_value"] += 1
            elif k < cuts[3]:
                rec["event_type"] = "bogus"
                counts["unknown_type"] += 1
            elif lookup_key is None:
                lookup_key = rec["event_id"]
            line = json.dumps(rec)
            if k < cuts[0]:
                line = line[: len(line) // 2]
                counts["malformed"] += 1
            lines.append(line)
        lookups.append(f"{lookup_key}\t{INGEST_ROWS}")
        with open(os.path.join(d, "part-00000.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(out, "lookup.tsv"), "w") as f:
        f.write("\n".join(lookups) + "\n")
    return {
        "rows": n, "bytes": _dir_bytes(out), "partitions": INGEST_PARTITIONS,
        "rows_per_partition": INGEST_ROWS,
        "malformed_share": counts["malformed"] / n,
        "error_share": sum(counts[k] for k in DEFECT_SHARES) / n,
    }


CDC_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("user_id", pa.int64()),
    ("v", pa.decimal128(27, 2)), ("vd", pa.float64()),
    ("op", pa.string()), ("v_before", pa.decimal128(27, 2)),
])


def _cdc_table(rows):
    cols = list(zip(*rows)) if rows else [[] for _ in CDC_SCHEMA]
    return pa.table([pa.array(list(c), type=f.type)
                     for c, f in zip(cols, CDC_SCHEMA)], schema=CDC_SCHEMA)


def gen_cdc(sf_dir, out, seed):
    rng = _rng(seed, 2)
    # Zipf-like key popularity: key rank r drawn with weight 1/(r+1)
    w = 1.0 / np.arange(1, CDC_KEYS + 1)
    w /= w.sum()
    ev = _sample_events(sf_dir, rng, CDC_FACTS)
    keys = rng.choice(CDC_KEYS, size=CDC_FACTS, p=w)
    live = {}  # key -> {pk: value}
    rows = []
    for i, k in enumerate(keys):
        pk, val = int(ev["event_id"][i]), round(float(ev["value"][i]), 2)
        live.setdefault(int(k), {})[pk] = val
        rows.append((pk, int(k), Decimal(f"{val:.2f}"), val, "I", None))
    os.makedirs(os.path.join(out, "changes"))
    pq.write_table(_cdc_table(rows), os.path.join(out, "facts.parquet"))
    next_pk = 1_000_000
    n_changes = 0
    lookups = []
    for f in range(CDC_FILES):
        # skewed picks among keys with enough live rows, so every file holds
        # the same number of updates, deletes and inserts
        touched = []
        while len(touched) < CDC_KEYS_PER_FILE:
            k = int(rng.choice(CDC_KEYS, p=w))
            if k not in touched and len(live.get(k, ())) >= CDC_UPDATES + CDC_DELETES:
                touched.append(k)
        rows = []
        for k in sorted(touched):
            cur = live.setdefault(k, {})
            pks = sorted(cur)
            chosen = rng.permutation(len(pks))[: CDC_UPDATES + CDC_DELETES]
            for c, idx in enumerate(chosen):
                pk = pks[int(idx)]
                before = cur[pk]
                if c < CDC_UPDATES:
                    after = round(float(rng.integers(0, 100000)) / 100, 2)
                    cur[pk] = after
                    rows.append((pk, k, Decimal(f"{after:.2f}"), after, "U",
                                 Decimal(f"{before:.2f}")))
                else:
                    del cur[pk]
                    rows.append((pk, k, Decimal(f"{before:.2f}"), before, "D", None))
            for _ in range(CDC_INSERTS):
                val = round(float(rng.integers(0, 100000)) / 100, 2)
                cur[next_pk] = val
                rows.append((next_pk, k, Decimal(f"{val:.2f}"), val, "I", None))
                next_pk += 1
        n_changes += len(rows)
        lookups.append(f"{touched[0]}\t{len(rows)}")
        pq.write_table(_cdc_table(rows),
                       os.path.join(out, "changes", f"c-{f:05d}.parquet"))
    with open(os.path.join(out, "lookup.tsv"), "w") as f:
        f.write("\n".join(lookups) + "\n")
    return {
        "rows": CDC_FACTS + n_changes, "bytes": _dir_bytes(out),
        "state_rows": CDC_FACTS, "changelog_files": CDC_FILES,
        "changelog_rows_per_file": n_changes / CDC_FILES,
        "batch_to_state": (n_changes / CDC_FILES) / CDC_FACTS,
        "keys": CDC_KEYS, "keys_per_file": CDC_KEYS_PER_FILE,
    }


def gen_dedup(sf_dir, out, seed):
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    rng = _rng(seed, 3)
    pick = sorted(int(x) for x in
                  rng.choice(len(docs["doc_id"]), size=DEDUP_BASE, replace=False))
    hot = np.zeros(DEDUP_BASE, dtype=bool)
    hot[rng.choice(DEDUP_BASE, size=DEDUP_HOT, replace=False)] = True
    ids, texts = [], []
    for h, i in zip(hot, pick):
        base_id, text = int(docs["doc_id"][i]), docs["text"][i]
        for rep in range(DEDUP_HOT_REPS if h else DEDUP_COLD_REPS):
            ids.append(base_id * 100000 + rep)
            texts.append(text if h else f"{text} rev {rep}")
    order = rng.permutation(len(ids))
    tbl = pa.table({"doc_id": pa.array([ids[i] for i in order], pa.int64()),
                    "text": pa.array([texts[i] for i in order], pa.string())})
    pq.write_table(tbl, os.path.join(out, "corpus.parquet"))
    n = len(ids)
    n_hot = DEDUP_HOT * DEDUP_HOT_REPS
    return {
        "rows": n, "bytes": _dir_bytes(out), "base_docs": DEDUP_BASE,
        "duplicate_share": (n - DEDUP_BASE) / n,
        "boilerplate_share": n_hot / n,
        "largest_cluster": DEDUP_HOT_REPS,
    }


GENERATORS = {"ingest": gen_ingest, "cdc": gen_cdc, "dedup": gen_dedup}


def generate(workload, sf_dir, out_dir, seed):
    os.makedirs(out_dir)
    props = GENERATORS[workload](sf_dir, out_dir, seed)
    props["seed"] = int(seed)
    return props
