"""The benchmark workloads: inputs, one pass of ops, and the output checks.

Both workloads run closed-loop with one client on a fresh session: each op
starts after the previous result is complete (collected into this process, or
written), as the reference's experiment -> compile -> report caller waits.

- ``tlq_report``: short interactive queries whose fixed per-query floor
  (plan build, Catalyst, scheduling) dominates, plus SAAF run records
  landing as JSON files and compiled into a written report.
- ``corpus_dedup``: executor-bound dedup and similarity operators.
"""

from __future__ import annotations

import decimal
import glob
import os
import shutil
import sys
from importlib import import_module

import pandas as pd

from . import gen

_path = list(sys.path)
from tools.check import frame_fingerprint  # noqa: E402  (its import puts a fixed path first)

sys.path[:] = _path

ENGINE = "cloudcomputing_servicecompositiontest_datapipeline_spark"

#: op name -> layer whose span wraps its execution
TLQ_OPS = {
    "tlq_transform": "sources.write",  # executed by its Load write
    "tlq_processing_time_stats": "operators.transform",
    "report_full": "operators.report",
    "overlap_selfjoin": "operators.joins",
    "events_session_window": "plans.streaming_batch",
    "q1_pricing_summary": "plans.native",
}
DEDUP_OPS = {
    "dedup_exact_text": "operators.dedup",
    "dedup_minhash_lsh": "operators.dedup",
    "dedup_embedding_cosine": "operators.similarity",
    "similarity_bruteforce_topk": "operators.similarity",
    "similarity_ann_sweep": "operators.similarity",
}
#: SAAF ingest: batches of JSON files landing per pass, each compiled onto
#: the table the earlier ones built, and files per batch
SAAF_BATCHES, SAAF_FILES = 2, 150
#: exampleExperiment-like report: zTenancy groups, invalidators, warm-up
#: buffer, duplicate-container removal and per-VM runtime overlap
SAAF_REPORT = dict(
    output_groups=["zTenancy[vmID]"],
    show_as_sum=["newcontainer"],
    ignore_from_all=["vmuptime", "startTime", "endTime", "1_run_id", "2_thread_id", "3_pipeline_stage"],
    pipeline_metrics=False,
    invalidators={"platform": "invalid"},
    remove_duplicate_containers=True,
    warmup_buffer=1,
    run_id_col="1_run_id",
    overlap_filter="vmID",
)
TLQ_SCALE = 0.01
CORPUS_DOCS, CORPUS_VECS = 1000, 500


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def registry_oracles(data_dir: str, names) -> dict:
    """The registry's DuckDB oracle fingerprint for each op."""
    oracles = import_module(f"{ENGINE}.plans.registry").ORACLES
    con = _duck(data_dir)
    return {n: frame_fingerprint(con.execute(oracles[n]).fetchdf()) for n in names}


# --- SAAF report oracle -----------------------------------------------------


def _q(c: str) -> str:
    return '"' + c.replace('"', '""') + '"'


def saaf_report_oracle(json_files: list[str]) -> dict[str, pd.DataFrame]:
    """The SAAF_REPORT sections, computed by DuckDB over the JSON files.

    Mirrors operators/report.py step by step: validity gate, warm-up
    buffer, invalidator, first-wins container dedup (ordered by every
    column), per-VM runtime overlap, zTenancy stamping, then one grouped
    section per output group (the config turns pipeline columns off).
    Returns the group sections plus ``raw_rows``, the raw section's row
    count."""
    import duckdb

    exact = import_module(f"{ENGINE}.functions.exact")
    cols = [c for c, _ in gen.RUN_COLUMNS]
    types = {c: t.upper().replace("STRING", "VARCHAR") for c, t in gen.RUN_COLUMNS}
    numeric = [c for c, t in gen.RUN_COLUMNS if t in ("bigint", "double")]
    con = duckdb.connect()
    listing = ", ".join(f"'{p}'" for p in json_files)
    spec = "{" + ", ".join(f"'{c}': '{types[c]}'" for c in cols) + "}"
    order = ", ".join(f"{_q(c)} ASC NULLS FIRST" for c in cols)
    con.execute(f"""
        CREATE TABLE base AS
        SELECT * EXCLUDE (rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY uuid ORDER BY {order}) AS rn
          FROM read_json([{listing}], format='auto', columns={spec})
          WHERE version IS NOT NULL AND iteration >= {SAAF_REPORT['warmup_buffer']}
            AND NOT coalesce(CAST(platform AS VARCHAR) = 'invalid', false))
        WHERE rn = 1""")
    k = con.execute("""
        SELECT a."1_run_id" AS rid, coalesce(sum(CASE WHEN b."1_run_id" IS NULL THEN 0 ELSE
          CAST(floor(CAST(least(b."endTime", a."endTime") - greatest(b."startTime", a."startTime") AS DOUBLE)
                     / greatest(a."endTime" - a."startTime", 1) * 1000000) AS BIGINT) END), 0) AS k
        FROM base a LEFT JOIN base b
          ON a."vmID" = b."vmID" AND b."startTime" < a."endTime"
         AND b."endTime" > a."startTime" AND a."1_run_id" != b."1_run_id"
        GROUP BY a."1_run_id" """).fetchdf()
    # F.round on a double: HALF_UP on its shortest decimal string
    k["runtimeOverlap"] = [
        float(decimal.Decimal(repr(v / 1e6)).quantize(decimal.Decimal("0.01"), decimal.ROUND_HALF_UP))
        for v in k["k"]
    ]
    con.register("overlap", k[["rid", "runtimeOverlap"]])
    con.execute("""
        CREATE TABLE stamped AS
        SELECT t.*,
          min(t."cpuType") OVER (PARTITION BY t."vmID") || ' - '
            || CAST(count(*) OVER (PARTITION BY t."vmID") AS VARCHAR) AS "zTenancy[vmID]",
          count(*) OVER (PARTITION BY t."vmID") AS "tenants[vmID]"
        FROM (SELECT b.*, o."runtimeOverlap" FROM base b JOIN overlap o ON b."1_run_id" = o.rid) t""")
    skip = set(SAAF_REPORT["ignore_from_all"]) | set(SAAF_REPORT["show_as_sum"])
    agg_cols = [c for c in numeric + ["runtimeOverlap", "tenants[vmID]"] if c not in skip]
    aggs = ", ".join(
        [exact.sql_davg(_q(c), _q("avg_" + c)) for c in agg_cols]
        + [exact.sql_dsum(_q(c), _q("sum_" + c)) for c in SAAF_REPORT["show_as_sum"]]
    )
    out: dict[str, pd.DataFrame] = {}
    for key in SAAF_REPORT["output_groups"]:
        out[key] = con.execute(
            f"SELECT {_q(key)}, count(*) AS uses, {aggs} FROM stamped GROUP BY {_q(key)}"
        ).fetchdf()
    out["raw_rows"] = con.execute("SELECT count(*) FROM stamped").fetchone()[0]
    return out


def _read_section_csv(path: str) -> pd.DataFrame:
    parts = [
        pd.read_csv(p, escapechar="\\")
        for p in sorted(glob.glob(os.path.join(glob.escape(path), "part-*.csv")))
        if os.path.getsize(p)
    ]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()


def _align(actual: pd.DataFrame, expected: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Give a CSV-read section the oracle's column kinds: numbers as
    float64, everything else as str/None."""
    a, e = actual.copy(), expected.copy()
    for c in e.columns:
        if c not in a.columns:
            continue
        if pd.api.types.is_numeric_dtype(e[c]):
            a[c] = pd.to_numeric(a[c]).astype("float64")
            e[c] = e[c].astype("float64")
        else:
            a[c] = a[c].astype(object).where(a[c].notna(), None)
            e[c] = e[c].astype(object).where(e[c].notna(), None)
    return a, e


def check_saaf_report(paths: dict[str, str], expected: dict) -> str | None:
    """None when every written group section matches the oracle and the raw
    section holds the expected row count; else a reason."""
    for key in SAAF_REPORT["output_groups"]:
        if key not in paths:
            return f"section {key} not written"
        got, want = _align(_read_section_csv(paths[key]), expected[key])
        if frame_fingerprint(got) != frame_fingerprint(want):
            return f"section {key}: {frame_fingerprint(got)} != {frame_fingerprint(want)}"
    n = 0
    for p in glob.glob(os.path.join(glob.escape(paths["raw"]), "part-*.csv")):
        with open(p) as f:
            n += max(0, sum(1 for _ in f) - 1)
    if n != expected["raw_rows"]:
        return f"raw section: {n} rows != {expected['raw_rows']}"
    return None


def read_load_output(path: str) -> pd.DataFrame:
    """The Load step's partitioned parquet, read back without Spark."""
    import pyarrow.dataset as ds

    pdf = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
    pdf["order_priority"] = pdf["order_priority"].astype(str)
    return pdf


def land(src_dir: str, dst_dir: str) -> list[str]:
    """Land one batch in the watched directory (hard link, else copy); it
    is complete before the batch's op starts."""
    os.makedirs(dst_dir, exist_ok=True)
    out = []
    for p in sorted(glob.glob(os.path.join(src_dir, "*.json"))):
        dst = os.path.join(dst_dir, os.path.basename(p))
        try:
            os.link(p, dst)
        except OSError:
            shutil.copyfile(p, dst)
        out.append(dst)
    return out
