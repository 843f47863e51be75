"""Seeded input generator for the benchmark workloads.

Every table is synthesized from the seed alone (numpy PCG64), with the
schemas, value domains and planted edge cases of the engine's star /
events / documents / embeddings fixtures (FIXTURES.md), so the engine only
ever sees files this module wrote.  The same seed gives byte-identical
files; any two seeds give the same row counts, so run-to-run differences
are data values, never data volume.

Sizes are stated by ``scale`` in the fixture's own scale-factor units
(orders = 1.5M x scale).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.42, 0.15, 0.14, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never shifts
    another table's values."""
    return np.random.Generator(np.random.PCG64([seed, *stream.encode()]))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def write_star(out_dir: str, seed: int, scale: float) -> dict:
    """region/nation/customer/supplier/part/orders/lineitem/events.

    Planted like the fixture: duplicate (l_orderkey, l_linenumber) pairs
    (random line numbers), ship dates after order dates, one JSON ``props``
    per event with a bounded key domain."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    sizes: dict[str, int] = {}
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        sizes[name] = _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = _rng(seed, "part")
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in r.integers(0, 6, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 2000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    odate = EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US  # 1995-01-01 .. 2001-08-01
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1_000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    lok = r.integers(0, n_ord, n_line).astype(np.int64)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": lok,
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2_100.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + r.integers(1, 96, n_line) * DAY_US),
    })
    r = _rng(seed, "events")
    ts = np.sort(EPOCH_2024 + r.integers(0, 30 * DAY_US, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": r.integers(0, max(150, n_ev // 66), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(np.clip(r.exponential(50.0, n_ev), 0.01, 490.0), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)],
    })
    return {"rows": rows, "bytes": sizes}


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64) -> dict:
    """documents + embeddings.

    Documents are 10-100 words over the fixture's 30-word vocabulary.  A
    seeded 5% are near-duplicates (an earlier doc's text with one word
    replaced and a trailing ``dup`` token) and 0.2% exact copies of an
    earlier doc, the fixture's own shares.  Embeddings are unit-norm
    Gaussian vectors (float32) with a 10-way label."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    texts: list[str] = []
    kinds = r.choice(3, size=n_docs, p=[0.948, 0.05, 0.002])
    kinds[0] = 0  # the first doc has nothing earlier to copy
    for i in range(n_docs):
        if kinds[i] == 0:
            words = [WORDS[j] for j in r.integers(0, len(WORDS), r.integers(10, 101))]
            texts.append(" ".join(words))
            continue
        src = texts[int(r.integers(0, i))]
        if kinds[i] == 2:
            texts.append(src)
            continue
        words = src.split(" ")
        words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
        texts.append(" ".join(words) + " dup")
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, size=n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    r = _rng(seed, "embeddings")
    x = r.standard_normal((n_vecs, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vecs).astype(np.int32),
    })
    sizes = {
        "documents": _write(docs, os.path.join(out_dir, "documents.parquet")),
        "embeddings": _write(emb, os.path.join(out_dir, "embeddings.parquet")),
    }
    distinct = len(set(texts))
    return {
        "rows": {"documents": n_docs, "embeddings": n_vecs},
        "bytes": sizes,
        "distinct_texts": distinct,
        "exact_dup_share": round(1 - distinct / n_docs, 4),
        "near_dup_share": round(float(np.mean(kinds == 1)), 4),
    }


#: SAAF run-record columns (FIXTURES.md F2) and their Spark SQL types; the
#: stream reads with exactly this schema.
RUN_COLUMNS: list[tuple[str, str]] = [
    ("version", "double"), ("lang", "string"), ("uuid", "string"),
    ("newcontainer", "bigint"), ("vmuptime", "bigint"), ("vmID", "string"),
    ("platform", "string"), ("functionName", "string"),
    ("functionMemory", "string"), ("cpuType", "string"), ("cpuModel", "string"),
    ("cpuUsr", "bigint"), ("cpuKrn", "bigint"), ("cpuIdle", "bigint"),
    ("freeMemory", "bigint"), ("pageFaults", "bigint"),
    ("startTime", "bigint"), ("endTime", "bigint"), ("runtime", "double"),
    ("1_run_id", "bigint"), ("2_thread_id", "bigint"),
    ("3_pipeline_stage", "bigint"), ("roundTripTime", "double"),
    ("latency", "double"), ("payload", "string"), ("zAll", "string"),
    ("iteration", "bigint"),
]

CPU_TYPES = ["Intel(R) Xeon(R) Processor @ 2.50GHz", "Intel(R) Xeon(R) Processor @ 2.90GHz",
             "AMD EPYC", "Intel(R) Xeon(R) Processor @ 3.00GHz"]
FUNCTIONS = ["hello", "resize", "transcode", "infer"]


def saaf_records(seed: int, n_batches: int, per_batch: int) -> list[list[dict]]:
    """SAAF invocation records, one dict per JSON file, in landing batches.

    Containers (``uuid``) are reused across invocations (warm starts) and
    pinned to a VM; a VM has one cpuType.  Planted: 1% records without a
    ``version`` (invalid runs), 1% on an ``invalid`` platform (the
    invalidator), 3% missing ``cpuModel`` (the schema-union path), and
    zero-length runs (the overlap clamp)."""
    r = _rng(seed, "saaf")
    n = n_batches * per_batch
    n_vm = max(4, n // 40)
    n_cont = max(8, n // 6)
    vm_cpu = r.integers(0, len(CPU_TYPES), n_vm)
    cont_vm = r.integers(0, n_vm, n_cont)
    cont_fn = r.integers(0, len(FUNCTIONS), n_cont)
    t0 = 1_700_000_000_000
    starts = np.sort(t0 + r.integers(0, n * 40, n))
    out: list[list[dict]] = []
    seen: set[int] = set()
    for b in range(n_batches):
        batch = []
        for j in range(per_batch):
            i = b * per_batch + j
            c = int(r.integers(0, n_cont))
            vm = int(cont_vm[c])
            runtime = round(float(r.gamma(2.0, 60.0)), 2) if r.random() > 0.02 else 0.0
            rtt = round(runtime + float(r.gamma(2.0, 15.0)), 2)
            start = int(starts[i])
            rec = {
                "version": 0.5 if r.random() < 0.5 else 0.6,
                "lang": "python",
                "uuid": f"c{c:05d}",
                "newcontainer": 0 if c in seen else 1,
                "vmuptime": 1_699_990_000 + vm * 97,
                "vmID": f"vm{vm:04d}",
                "platform": "AWS Lambda" if r.random() > 0.01 else "invalid",
                "functionName": FUNCTIONS[int(cont_fn[c])],
                "functionMemory": str(int(r.choice([256, 512, 1024]))),
                "cpuType": CPU_TYPES[int(vm_cpu[vm])],
                "cpuModel": str(int(vm_cpu[vm]) + 79),
                "cpuUsr": int(r.integers(1_000, 900_000)),
                "cpuKrn": int(r.integers(100, 90_000)),
                "cpuIdle": int(r.integers(10_000, 9_000_000)),
                "freeMemory": int(r.integers(100_000, 3_000_000)),
                "pageFaults": int(r.integers(0, 20_000)),
                "startTime": start,
                "endTime": start + int(runtime),
                "runtime": runtime,
                "1_run_id": i,
                "2_thread_id": i % 8,
                "3_pipeline_stage": int(r.integers(0, 3)),
                "roundTripTime": rtt,
                "latency": round(rtt - runtime, 2),
                "payload": json.dumps({"n": int(r.integers(1, 100)), "mode": "bench"}),
                "zAll": "Final Results:",
                "iteration": int(r.integers(0, 3)),
            }
            seen.add(c)
            if r.random() < 0.01:
                del rec["version"]
            if r.random() < 0.03:
                del rec["cpuModel"]
            batch.append(rec)
        out.append(batch)
    return out


def write_saaf(out_dir: str, seed: int, n_batches: int, per_batch: int) -> dict:
    """One JSON file per invocation under ``out_dir/batch<k>/``."""
    batches = saaf_records(seed, n_batches, per_batch)
    total = 0
    for b, recs in enumerate(batches):
        d = os.path.join(out_dir, f"batch{b}")
        os.makedirs(d, exist_ok=True)
        for rec in recs:
            path = os.path.join(d, f"run{rec['1_run_id']:06d}.json")
            with open(path, "w") as f:
                f.write(json.dumps(rec))
            total += os.path.getsize(path)
    return {
        "rows": {"runs": n_batches * per_batch},
        "bytes": {"runs": total},
        "batches": n_batches,
        "files_per_batch": per_batch,
        "distinct_containers": len({r["uuid"] for b in batches for r in b}),
        "distinct_vms": len({r["vmID"] for b in batches for r in b}),
    }
